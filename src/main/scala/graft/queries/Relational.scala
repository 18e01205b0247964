package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsOfJoin, IncrementalAgg, Sessionize}

/** Pack C — relational analytics core. Declarative DataFrame programs;
  * Catalyst owns pushdown/pruning/join strategy. Money math is cast to
  * DECIMAL before aggregation so results are EXACT and engine-portable
  * (double sums are order-dependent; the driver hash-compares values).
  *
  * Output-type rule: aggregate in DECIMAL (exact), but final-cast every
  * money column to DOUBLE. DECIMAL output columns serialize with
  * trailing scale zeros ("222017.00") that a float-converting reader
  * renders as "222017.0" — a hash mismatch even though the values are
  * numerically equal. The exact-decimal→double conversion itself is
  * deterministic in both engines (unscaled values < 2^53, one correctly
  * rounded conversion), so DOUBLE outputs hash identically everywhere.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  /** A/B moment readout over per-user (cents, arm) rows — q_abtest's
    * math; factored so OverflowHeadroomSpec can drive it with
    * 38-digit-edge synthetic inputs the sf gates never reach. */
  private[graft] def abtestReadout(per: DataFrame): DataFrame =
    per.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("cents")).otherwise(0L))
            .cast("decimal(38,0)").as("s0"),
          sum(when(col("arm") === 1, col("cents")).otherwise(0L))
            .cast("decimal(38,0)").as("s1"),
          sum(when(col("arm") === 0,
            col("cents").cast("decimal(19,0)") * col("cents"))
            .otherwise(lit(0).cast("decimal(19,0)"))).as("q0"),
          sum(when(col("arm") === 1,
            col("cents").cast("decimal(19,0)") * col("cents"))
            .otherwise(lit(0).cast("decimal(19,0)"))).as("q1"))
        .select(col("n0"), col("n1"),
          col("s0").cast("long").as("s0_cents"),
          col("s1").cast("long").as("s1_cents"),
          expr("CAST((1000000 * s0) div n0 AS BIGINT)").as("mean0_micro"),
          expr("CAST((1000000 * s1) div n1 AS BIGINT)").as("mean1_micro"),
        // Variance in WHOLE cents² — a quadratic quantity: the 1e6
        // micro scaling recovers only ~1e-6 cents² of sub-integer
        // precision (noise) while costing 6 digits of the BIGINT
        // output's headroom (micro-variance overflows the output
        // column once per-user std passes ~$10k; whole cents² holds
        // to ~$30M — OverflowHeadroomSpec pins the envelope).
          expr("CAST((n0 * q0 - s0 * s0) div (n0 * n0) AS BIGINT)")
            .as("var0_cents2"),
          expr("CAST((n1 * q1 - s1 * s1) div (n1 * n1) AS BIGINT)")
            .as("var1_cents2"),
          expr("CAST((1000000 * (s1 * n0 - s0 * n1)) div (n1 * n0) AS BIGINT)")
            .as("lift_micro"))
        // Welch z² from the ALREADY-FLOORED quantities — never from
        // the raw product form (1e6·d²·n1·n0 / X), whose numerator
        // needs ~40+ digits at ~1e5 users/arm and silently NULLs the
        // decimal while DuckDB's int128 errors. lift_micro² = 1e12·d²
        // over 1e6·W gives micro-z² directly; everything stays inside
        // 38 digits through the documented envelope. The pre-floored
        // denominator shifts z² by O(1/var) — identically on both
        // engines.
        // (`div` always yields BIGINT, so each denominator term
        // multiplies INSIDE the decimal and must itself fit int64:
        // z² additionally needs per-arm std ≲ $30k·√n — comfortable
        // for any experiment with real traffic; the spec pins it.)
        .withColumn("z2_micro",
          expr("""CAST((CAST(lift_micro AS DECIMAL(38,0)) * lift_micro)
            div ((1000000 * CAST(var1_cents2 AS DECIMAL(38,0))) div n1
              + (1000000 * CAST(var0_cents2 AS DECIMAL(38,0))) div n0)
            AS BIGINT)"""))

  /** Chi-square drift readout over observed (lang, source, obs) cells
    * — q_chisq's math, shared with the streaming monitor (st_drift)
    * whose standing cells feed it. All windows run over the
    * |cells|-row relation, never rows. */
  private[graft] def chisqReadout(cells: DataFrame): DataFrame =
    cells
      .withColumn("rt", sum("obs").over(Window.partitionBy("lang")))
      .withColumn("ct", sum("obs").over(Window.partitionBy("source")))
      .withColumn("nn", sum("obs").over(Window.partitionBy()))
      .withColumn("dev",
        expr("""(CAST(obs AS DECIMAL(38,0)) * nn
          - CAST(rt AS DECIMAL(38,0)) * ct) div nn"""))
      .select(col("lang"), col("source"), col("obs"),
        expr("""CAST((1000000 * CAST(rt AS DECIMAL(38,0)) * ct) div nn
          AS BIGINT)""").as("exp_micro"),
        expr("""CAST((1000000 * CAST(dev AS DECIMAL(38,0)) * dev * nn)
          div (CAST(rt AS DECIMAL(38,0)) * ct) AS BIGINT)""")
          .as("contrib_micro"))
      .withColumn("chi2_micro",
        sum("contrib_micro").over(Window.partitionBy()))
      .orderBy("lang", "source")

  /** Shared sessionization CTE block (marked + sess) — the ONE SQL
    * copy of the [[graft.operators.Sessionize]] contract (30-min gap,
    * (ts, event_id) order, integer-microsecond compare); q_sessionize
    * and q_paths both read it, so a gap/tiebreak change cannot leave
    * the two oracles disagreeing. `cols` appends carried columns. */
  private def sqlSessionCtes(cols: String = ""): String =
    s"""marked AS (
         SELECT user_id, ts, event_id$cols,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_s
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_idx
         FROM marked)"""

  private val bloomSessions =
    collection.mutable.Map.empty[SparkSession, SparkSession]

  /** Child session with runtime bloom-filter injection tuned for the
    * gate data (thresholds default to cluster scale). A CHILD session —
    * isolated SQL conf over the shared SparkContext/block manager — is
    * the no-race way to scope planner conf to one query: concurrent
    * queries plan against the parent session untouched. */
  private def bloomSession(s: SparkSession): SparkSession = synchronized {
    bloomSessions.getOrElseUpdate(s, {
      // evict with the "q" family scope: a long-lived JVM cycling
      // parent sessions must not pin each one's child SessionState in
      // this static map forever (rebuilding the child later is cheap)
      // named but UNTOUCHED: a planner-conf child session is not data
      // warm state — it must not classify a q_bloom_join retry as
      // cache-read, and a clean retry has nothing to gain by dropping it
      graft.CacheBook.register(s, "q", "bloom_session") { () =>
        Relational.synchronized { bloomSessions.remove(s) }
        ()
      }
      val bs = s.newSession()
      bs.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // default 10GB application-side scan size — sized for clusters;
      // 0 lets the gate-scale fact scan qualify (plan SHAPE is the test)
      bs.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // force the shuffle-join shape the runtime filter exists for
      bs.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      bs
    })
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Filter + 2-column project: both must reach the parquet scan
    // (PushedFilters / pruned ReadSchema in .explain).
    "q_filter_pushdown" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1999-01-01" && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")),

    // TPC-H Q1 flavor: map-side partial aggregation, exact decimal sums.
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= "2000-12-31")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice")).cast("double").as("sum_base"),
          sum(dec("l_extendedprice") * (lit(1) - col("l_discount").cast("decimal(4,2)"))).cast("double").as("sum_disc"),
          (sum(dec("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Runtime bloom-filter pruning under the oracle: a selective dim
    // predicate (1/5 of orders) turns into a bloom probe on the FACT
    // scan before the join shuffle — at 100 TB the shuffle of
    // non-matching fact rows IS the cost, and the probe drops them at
    // the scan. Runs in a child session ([[bloomSession]]) whose confs
    // lower the injection thresholds to gate-data scale (production
    // defaults target 10 GB scans) and disable the broadcast fallback
    // so the shuffle-join shape — the one the filter exists for — is
    // what's priced; session isolation means no conf races with
    // concurrently-planned queries. RuntimeFilterSpec asserts the
    // might_contain probe is in THIS query's optimized plan.
    "q_bloom_join" -> ((s, dir) => {
      val bs = bloomSession(s)
      val o = t(bs, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      t(bs, dir, "lineitem").join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(dec("l_quantity")).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Q3 flavor: 3-way join, group, top-10 by revenue.
    "q3_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < "1999-06-30")
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > "1999-06-30")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(dec("l_extendedprice") * (lit(1) - col("l_discount").cast("decimal(4,2)"))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
        .limit(10)
    }),

    // Q5 flavor: 6-way join; region/nation are genuinely tiny at every
    // scale factor -> explicit broadcast; fact joins shuffle with AQE.
    "q5_join" -> ((s, dir) => {
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val n = broadcast(t(s, dir, "nation"))
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1998-01-01" && col("o_orderdate") < "1999-01-01")
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(dec("l_extendedprice") * (lit(1) - col("l_discount").cast("decimal(4,2)"))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    "q_having" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), sum(dec("o_totalprice")).cast("double").as("total"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")),

    // order+limit -> TakeOrderedAndProject (no global sort of the table).
    "q_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // Exact count-distincts, plus the approx sketch validated by bound
    // (a hash-compare can't check an approximation; a tolerance can).
    "q_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("d_part"),
        countDistinct(col("l_suppkey")).as("d_supp"),
        (abs(approx_count_distinct(col("l_partkey"), 0.01) - countDistinct(col("l_partkey")))
          / countDistinct(col("l_partkey")) < 0.05).as("approx_ok"))),

    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(dec("o_totalprice")).over(w).cast("double").as("running"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(dec("l_quantity")).cast("double").as("sum_qty"), count(lit(1)).as("n"),
          (grouping(col("l_returnflag")).cast("int") * 2
            + grouping(col("l_linestatus")).cast("int")).as("gid"))
        .orderBy(col("gid").asc, col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // lead/lag/ntile windows: per-order neighbor shipdates + position
    // quartiles. The window orders by (l_linenumber, l_shipdate) —
    // (l_orderkey, l_linenumber) is NOT unique in the corpus, and a
    // total order over the OUTPUT columns keeps tied rows
    // interchangeable, so the result multiset is deterministic even
    // though the engines may place ties differently.
    "q_window_lead_lag" -> ((s, dir) => {
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_linenumber"), col("l_shipdate"))
      t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate").as("ship"),
          lag(col("l_shipdate"), 1).over(w).as("prev_ship"),
          lead(col("l_shipdate"), 1).over(w).as("next_ship"),
          ntile(4).over(w).as("quartile"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship"))
    }),

    // arbitrary GROUPING SETS — the general form rollup/cube can't
    // express: per-flag totals, per-status totals, and the grand total
    // in ONE pass over the data (one shuffle, the expand operator
    // replicates rows per set), not three scans unioned
    "q_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec("l_quantity")).cast("double").as("sum_qty"), count(lit(1)).as("n"),
          (grouping(col("l_returnflag")).cast("int") * 2
            + grouping(col("l_linestatus")).cast("int")).as("gid"))
        .orderBy(col("gid").asc, col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec("o_totalprice")).cast("double"))
        .orderBy("o_orderpriority")),

    // customers with no EARLY order — the date filter keeps the gate
    // discriminating (every synthetic customer has SOME order, so an
    // unfiltered anti-join returns empty and a broken anti-join would
    // pass trivially; ~20% of customers survive this one)
    "q_antijoin" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") < to_timestamp(lit("1996-01-01"))),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "q_semijoin" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // INTERSECT / EXCEPT over key projections
    "q_set_ops" -> ((s, dir) => {
      val partsSold = t(s, dir, "lineitem").select(col("l_partkey").as("p"))
      val bigParts = t(s, dir, "part").filter(col("p_size") >= 40).select(col("p_partkey").as("p"))
      val both = partsSold.intersect(bigParts).withColumn("src", lit("both"))
      val unsold = bigParts.except(partsSold).withColumn("src", lit("unsold"))
      both.unionByName(unsold).orderBy("src", "p")
    }),

    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(dec("o_totalprice")).cast("double").as("total"),
          (grouping(col("o_orderstatus")).cast("int") * 2
            + grouping(col("o_orderpriority")).cast("int")).as("gid"))
        .orderBy(col("gid").asc, col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Scalar/expression zoo: case-when, date math, string functions.
    "q_exprs" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "O", "open")
          .when(col("o_orderstatus") === "F", "finished")
          .otherwise("pending").as("status_word"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).as("days_to_2002"),
        upper(substring(col("o_orderpriority"), 3, 20)).as("prio_word"),
        length(col("o_orderpriority")).as("prio_len"),
        concat(col("o_orderstatus"), lit("/"), regexp_replace(col("o_orderpriority"), "-", "_")).as("tag"),
        floor(col("o_totalprice") / 50000).cast("int").as("price_bucket"))
        .orderBy("o_orderkey")),

    "q_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
        .orderBy("l_returnflag")),

    // As-of join: each purchase -> latest strictly-prior error, same user.
    "q_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
      AsOfJoin(purchases, errors, Seq("user_id"), "ts",
        rightVals = Seq("event_id", "ts"), tiebreak = "event_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("prior_event_id"), col("prior_ts"))
        .orderBy("event_id")
    }),

    // As-of with a bounded lookback: prior errors older than 2h don't
    // count (standard as-of tolerance semantics).
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
      AsOfJoin(purchases, errors, Seq("user_id"), "ts",
        rightVals = Seq("event_id"), tiebreak = "event_id",
        toleranceSeconds = Some(7200L))
        .select(col("event_id"), col("user_id"), col("prior_event_id"))
        .orderBy("event_id")
    }),

    // Gaps-and-islands sessionization, 30-minute timeout.
    // cohort retention: cohort = week index of a user's first event,
    // retained at offset k if the user has any event in cohort+k.
    // Weeks are INTEGER epoch-microsecond divisions — no calendar or
    // timezone arithmetic enters the compare. Two shuffles (first-event
    // agg, cohort-cell agg); the per-user relation broadcasts back.
    "q_retention" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
      val first = e.groupBy("user_id").agg(min("wk").as("cohort_week"))
      e.join(first, "user_id")
        .select(col("cohort_week"),
          (col("wk") - col("cohort_week")).as("week_offset"), col("user_id"))
        .distinct()
        .groupBy("cohort_week", "week_offset").agg(count(lit(1)).as("users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // TIME-DECAYED engagement score per user (feature-store decay
    // aggregate; the batch analog of an EWMA feature): each event
    // weighs 2^-(age div halflife), half-life = 1 day, ages clamped at
    // 15 half-lives (past that the weight is noise). The whole sum is
    // INTEGER: value floors to micro-units once, the weight is a
    // power-of-two numerator 2^(15-bucket) over a fixed 2^15
    // denominator, so the per-user sum is a BIGINT — order-independent
    // under any partial-aggregation schedule, unlike the float
    // pow()-weighted sum it replaces (score_units = score * 2^15 * 1e6).
    // "now" is one scalar max(ts) broadcast back (never a whole-table
    // window); then ONE scan + one map-side-combined aggregation —
    // the same two-exchange shape as q1_agg at any corpus size.
    "q_decay" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val mx = ev.agg(max(unix_micros(col("ts"))).as("mxus"))
      ev.crossJoin(broadcast(mx))
        .select(col("user_id"),
          floor(col("value") * lit(1000000.0)).cast("long").as("vmicro"),
          least(expr("(mxus - unix_micros(ts)) div 86400000000"), lit(15L))
            .as("bucket"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("vmicro") * expr("shiftleft(1L, cast(15 - bucket as int))"))
            .as("score_units"))
        .orderBy("user_id")
    }),

    // EVENT-PROXIMITY dedup — the instrumentation-double-fire screen
    // (same user re-emitting the same event type within 5 s is a
    // duplicate beacon, not new behavior; the data-quality gate before
    // any funnel/retention read): lag over (user_id, event_type)
    // ordered by integer microseconds, dup iff the gap ≤ 5 s. One
    // shuffle on the composite key; per-partition windows are a user's
    // per-type event count — never corpus-scaled. Distinct from
    // q_sessionize's grouping: this REMOVES, sessions AGGREGATE.
    "q_event_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("et", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("et"))
        .withColumn("gap", col("et") - lag("et", 1).over(w))
        .select(col("event_type"),
          when(col("gap").isNotNull && col("gap") <= 5000000L, 1L)
            .otherwise(0L).as("dup"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("dup").as("n_dups"))
        .orderBy("event_type")
    }),

    "q_sessionize" -> ((s, dir) =>
      Sessionize(t(s, dir, "events"), "user_id", "ts", "event_id", gapSeconds = 1800)
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
        .orderBy("user_id", "session_idx")),

    // SESSION-GAP tuning curve — the sweep discipline on the
    // sessionization cut line: session counts per candidate gap
    // threshold in ONE pass (the per-user sorted deltas are computed
    // once; each event fans to every gap it opens a session under —
    // a boundary iff no prior event or delta > gap). The multiset of
    // per-user deltas is tie-order-independent (sorted values fixed),
    // so the counts are deterministic. Reading events-per-session
    // across gaps IS the gap decision a telemetry rollout makes.
    "q_sessionize_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("et")
      val d = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("et"))
        .withColumn("delta", col("et") - lag("et", 1).over(w))
      d.select(col("delta"),
          explode(array(Seq(600L, 1800L, 3600L).map(lit(_)): _*)).as("gap_seconds"))
        .groupBy("gap_seconds")
        .agg(sum(when(col("delta").isNull
            || col("delta") > col("gap_seconds") * 1000000L, 1)
          .otherwise(0)).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .select(col("gap_seconds"), col("n_sessions"),
          expr("n_events * 1000000 div n_sessions").as("events_per_session_micro"))
        .orderBy("gap_seconds")
    }),

    "q_json" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"), max("k").as("max_k"))
        .orderBy("event_type")),

    // funnel analysis (view -> click -> purchase): per-user earliest
    // qualifying event per stage, each stage gated on strictly-later
    // event time than the previous one. Three aggregate-then-join
    // stages keyed on user_id — the per-user relations shrink at every
    // step, so each join's build side is the (smaller) prior stage.
    // Times compare in integer MICROSECONDS on both engines.
    "q_funnel" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("et"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("et").as("t1"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("et") > col("t1"))
        .groupBy("user_id").agg(min("et").as("t2"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("et") > col("t2"))
        .groupBy("user_id").agg(min("et").as("t3"))
      v.agg(count(lit(1)).as("users")).select(lit("1_view").as("step"), col("users"))
        .unionByName(c.agg(count(lit(1)).as("users"))
          .select(lit("2_click").as("step"), col("users")))
        .unionByName(p.agg(count(lit(1)).as("users"))
          .select(lit("3_purchase").as("step"), col("users")))
        .orderBy("step")
    }),

    // CONVERSION-WINDOW funnel sweep — the sweep discipline on
    // q_funnel's unbounded steps (a purchase a month after the click
    // is not that click's conversion): step counts per candidate
    // max-latency window (1 h / 1 d / 7 d) in one pass — each
    // user's step events fan to every window they qualify under, the
    // same explode idiom as q_sessionize_sweep. The window relation
    // drives the output (left joins + zero-fills), so all three rows
    // exist even where a window converts nobody. Reading conversion
    //-vs-window IS the attribution-window decision a product
    // analytics rollout makes. Integer microseconds throughout.
    "q_funnel_sweep" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("et"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("et").as("t1"))
      val wlits = Seq(3600000000L, 86400000000L, 604800000000L)
      val wexp = explode(array(wlits.map(lit(_)): _*)).as("w")
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .select(col("user_id"), col("et"), col("t1"), wexp)
        .filter(col("et") > col("t1") && col("et") <= col("t1") + col("w"))
        .groupBy("user_id", "w").agg(min("et").as("t2"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("et") > col("t2") && col("et") <= col("t2") + col("w"))
        .groupBy("user_id", "w").agg(min("et").as("t3"))
      val nv = v.agg(count(lit(1)).as("n_view"))
      s.range(1).select(wexp)
        .join(c.groupBy("w").agg(count(lit(1)).as("n_click")), Seq("w"), "left")
        .join(p.groupBy("w").agg(count(lit(1)).as("n_purchase")), Seq("w"), "left")
        .na.fill(0L, Seq("n_click", "n_purchase"))
        .crossJoin(broadcast(nv))
        .select(col("w").as("window_us"), col("n_view"),
          col("n_click"), col("n_purchase"))
        .orderBy("window_us")
    }),

    // Scalar subquery through the spark.sql surface: the subquery plans
    // as a ScalarSubquery expression evaluated once and broadcast into
    // the filter (max is exact — no order-dependent float aggregate).
    "q_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders_v
               WHERE o_totalprice > 4 * (SELECT max(l_extendedprice) FROM lineitem_v)
               ORDER BY o_orderkey""")
    }),

    // Salted skew join: the hot-key mitigation AQE can't always apply
    // (shuffle-hash paths, downstream aggs on the hot key). Salting is
    // physical-plan-only, so the result equals the plain join.
    "q_skew_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.SkewJoin.salted(l, sup, "l_suppkey", "l_orderkey", salts = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"),
          sum(dec("l_extendedprice")).cast("double").as("revenue"))
        .orderBy("s_name")
    }),

    // Range join via bucketed equi-join: tiers explode into the fixed-
    // width buckets they span, rows join on their bucket, and a residual
    // range filter keeps exact semantics — a hash join instead of the
    // broadcast-nested-loop a raw range predicate gets.
    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      val step = 50000L
      val tiers = Seq(("low", 0L, 100000L), ("mid", 100000L, 300000L),
        ("high", 300000L, 600000L)).toDF("tier", "lo", "hi")
      val tierBuckets = tiers.withColumn("bucket",
        explode(sequence((col("lo") / step).cast("long"),
          ((col("hi") - 1) / step).cast("long"))))
      t(s, dir, "orders")
        .withColumn("bucket", floor(col("o_totalprice") / step).cast("long"))
        .join(broadcast(tierBuckets), "bucket")
        .filter(col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"),
          sum(dec("o_totalprice")).cast("double").as("total"))
        .orderBy("tier")
    }),

    // unpivot (melt): wide per-status totals back to (status, total)
    // rows — the inverse of q_pivot, via the native Unpivot plan.
    "q_unpivot" -> ((s, dir) => {
      val wide = t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec("o_totalprice")).cast("double"))
      wide.unpivot(
          Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")),
          "status", "total")
        .filter(col("total").isNotNull)
        .orderBy("o_orderpriority", "status")
    }),

    // t-digest sketch coverage: approx_percentile vs exact, validated
    // by bound (same pattern as q_distinct's approx_ok — a hash compare
    // can't check an approximation; a tolerance can). The EXACT side is
    // BoundedPercentile over integer cents (prices carry 2 decimals, so
    // the cent percentile divided by 100 IS the price percentile) — the
    // last exact-percentile() fence outside the deliberate q_percentile
    // gate entry is gone; only the t-digest sketch itself buffers.
    "q_approx_quantile" -> ((s, dir) => {
      val li = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("price"),
          floor(dec("l_extendedprice") * 100).cast("long").as("cents")),
        "q")
      val exact = graft.operators.BoundedPercentile.fences(li,
        Seq("l_returnflag"), "cents",
        Seq(graft.operators.BoundedPercentile.Spec("med_c", 1, 2),
          graft.operators.BoundedPercentile.Spec("p90_c", 9, 10)),
        width = 1L << 16)
      li.groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(price, 0.5, 1000)").as("am"),
          expr("approx_percentile(price, 0.9, 1000)").as("a9"))
        .join(broadcast(exact), "l_returnflag")
        .select(col("l_returnflag"),
          (abs(col("am") - col("med_c") / 100) / (col("med_c") / 100) < 0.01)
            .as("median_ok"),
          (abs(col("a9") - col("p90_c") / 100) / (col("p90_c") / 100) < 0.01)
            .as("p90_ok"))
        .orderBy("l_returnflag")
    }),

    // data-quality PROFILE — the pre-flight check a pipeline runs before
    // trusting a source: per-column row/null/distinct counts and
    // min/max in ONE scan (a single aggregation row with map-side
    // combine; the per-column output rows come from exploding a struct
    // array over that row — no per-column re-scan). min/max render as
    // strings so one schema covers long, string and timestamp columns;
    // the timestamp renders as its date so both engines serialize
    // identically.
    "q_dq_profile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      def render(c: String, v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        if (c == "o_orderdate") date_format(v, "yyyy-MM-dd") else v.cast("string")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        render(c, min(col(c))).as(s"mn_$c"),
        render(c, max(col(c))).as(s"mx_$c")) }
      o.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"), col("n_rows"),
          col(s"nn_$c").as("n_nulls"), col(s"nd_$c").as("n_distinct"),
          col(s"mn_$c").as("min_v"), col(s"mx_$c").as("max_v"))): _*)).as("p"))
        .select("p.*")
        .orderBy("col_name")
    }),

    // Incremental aggregate maintenance: the standing per-customer
    // rollup is extended with a delta batch by merging partial states —
    // the base side is the (persisted) state table, never the base
    // FACTS. Here both halves are computed from the same snapshot so
    // the oracle is the one-shot aggregate; IncAggSpec holds the
    // chained-merge algebra. At scale the nightly cost is one delta
    // scan + a key-shuffle of |state|, not a 100-TB rescan.
    "q_inc_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val keys = Seq("o_custkey")
      // the split must PARTITION the table: a NULL date fails both a
      // < and a >= predicate and would silently drop the row from both
      // halves, so the delta side takes NOT(base) with null folded in
      val inBase = coalesce(col("o_orderdate") < "1997-07-01", lit(false))
      val base = IncrementalAgg.state(o.filter(inBase), keys, col("o_totalprice"))
      val delta = IncrementalAgg.state(o.filter(!inBase), keys, col("o_totalprice"))
      IncrementalAgg.merge(keys, base, delta)
        .select(col("o_custkey"), col("n"),
          col("total").cast("double").as("total"), col("lo"), col("hi"))
        .orderBy("o_custkey")
    }),

    // Time-series gap-fill + LOCF: regularize each user's event stream
    // to a dense daily series — the resample step every downstream
    // time-series op (rolling windows, day-over-day diffs, forecasting
    // features) assumes. The calendar is generated PER KEY from that
    // key's own [min, max] day span (sequence + explode — no global
    // calendar build, no cross join), observed days land via a keyed
    // left join, and missing days carry the last observed daily total
    // forward with a last(ignoreNulls) running window. Cost: one
    // groupBy to daily grain, one span agg, one keyed join, one
    // per-key window — everything partitions by user_id, and the
    // explode fan-out is bounded by the span, not the corpus. Daily
    // totals sum in integer micro-units (BIGINT — order-independent)
    // with one final double division, so LOCF values hash identically
    // cross-engine. First day per key is observed by construction, so
    // the carry never yields NULL.
    "q_gap_fill" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * lit(1000000.0)).cast("long").as("vmic"))
      val obs = e.groupBy("user_id", "day").agg(sum("vmic").as("dmic"))
      val span = obs.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
      val cal = span.select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(obs, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("dmic").isNull.as("is_gap"),
          (last(col("dmic"), ignoreNulls = true).over(w) / lit(1000000.0)).as("value_locf"))
        .orderBy("user_id", "day")
    }),

    // Rolling TIME-window aggregate — a RANGE frame over the day
    // number, not a ROWS frame: the 7-day window is defined by TIME
    // distance, so it is correct across gap days without any gap-fill
    // (a ROWS 6-preceding frame silently spans months when days are
    // missing — the classic rolling-metric bug). One daily-grain
    // aggregation + one per-key window; daily totals in integer
    // micro-units so the rolling sums are order-independent and exact.
    "q_window_range" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * lit(1000000.0)).cast("long").as("vmic"))
        .groupBy("user_id", "day")
        .agg(sum("vmic").as("dmic"), count(lit(1)).as("n_ev"))
      val w7 = Window.partitionBy("user_id").orderBy("day").rangeBetween(-6, 0)
      daily.select(col("user_id"), col("day"),
          (col("dmic") / lit(1000000.0)).as("day_value"),
          (sum("dmic").over(w7) / lit(1000000.0)).as("roll7_value"),
          sum("n_ev").over(w7).as("roll7_events"))
        .orderBy("user_id", "day")
    }),

    // Per-group EXACT least-squares fit (the drift/profiling op: does
    // revenue scale with quantity the same way in every group?): all
    // five accumulators sum per-row integer centi-units in
    // DECIMAL(38,0) — order-independent, so the distributed partial
    // aggregation is exact — and the closed-form slope/intercept come
    // out via integer micro-unit division. The intercept's numerator
    // can be negative (its sign is sampling noise), and Spark's `div`
    // truncates where DuckDB's `//` floors — the SHIFT (+K·den before
    // the division, −K after, K=1e13 > any reachable |intercept|)
    // keeps the numerator positive so both engines agree bit-for-bit.
    // r2_micro chains the already-integer slope through the same
    // positive-operand division. One map-side-combined aggregation;
    // six output rows. (At extreme corpus sizes the raw-moment
    // products approach DECIMAL(38)'s range — mean-centered
    // accumulation is the standard fix; the plan shape is unchanged.)
    "q_linreg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_linestatus"),
        floor(col("l_quantity") * 100).cast("decimal(38,0)").as("xi"),
        floor(col("l_extendedprice") * 100).cast("decimal(38,0)").as("yi"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).cast("decimal(38,0)").as("nn"),
          sum("xi").as("sx"), sum("yi").as("sy"),
          sum(expr("xi * yi")).as("sxy"),
          sum(expr("xi * xi")).as("sxx"),
          sum(expr("yi * yi")).as("syy"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("nn").cast("long").as("n"),
          expr("CAST((1000000 * (nn * sxy - sx * sy))" +
            " div (nn * sxx - sx * sx) AS BIGINT)").as("slope_micro"),
          expr("CAST((1000000 * (sy * sxx - sx * sxy)" +
            " + 10000000000000 * (nn * sxx - sx * sx))" +
            " div (nn * sxx - sx * sx) - 10000000000000 AS BIGINT)").as("icept_micro"),
          expr("CAST((CAST((1000000 * (nn * sxy - sx * sy))" +
            " div (nn * sxx - sx * sx) AS DECIMAL(38,0)) * (nn * sxy - sx * sy))" +
            " div (nn * syy - sy * sy) AS BIGINT)").as("r2_micro"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // MARKOV transition matrix over event sequences — the user-journey
    // model behind next-action prediction and funnel diagnostics:
    // per-user event streams pair each event with its successor (one
    // keyed window, the q_sessionize shuffle shape), then one tiny
    // (from, to) count aggregate; row probabilities in integer
    // micro-units (floor division — exact cross-engine, no float sum
    // ever forms). Scale: the window partitions by user_id; the
    // transition matrix itself is |event_types|² rows whatever the
    // corpus.
    "q_transitions" -> ((s, dir) => {
      val wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(wU))
        .filter(col("to_type").isNotNull)
      // Row totals via a window over the tiny |event_types|² count
      // relation — a cnt-vs-cnt.groupBy self-join would evaluate the
      // per-user lead() window subtree twice (ReuseExchange dedups the
      // shuffle, not the window+aggregate above it).
      pairs.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("tot", sum("n").over(Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), col("n"),
          expr("CAST((1000000 * CAST(n AS DECIMAL(38,0))) div tot AS BIGINT)")
            .as("p_micro"))
        .orderBy("from_type", "to_type")
    }),

    // IQR-fence outlier profile — the data-quality / anomaly screen:
    // per-customer total spend (the skewed derived metric; raw order
    // prices are too uniform to have outliers) rolled up by region
    // through the customer→nation→region star (dims broadcast), exact
    // per-region quartiles (same rounded-interpolation contract as
    // q_percentile), Tukey fences at 1.5 IQR, per-region outlier
    // counts + the worst offender. Two passes over the per-customer
    // relation by nature (quantiles, then the fence test) with the
    // 5-row fence table broadcast back; money in integer cents so the
    // fence test is exact.
    "q_outliers" -> ((s, dir) => {
      // the per-customer star is consumed three times (fence pass 1,
      // fence pass 2, the fence test): materialize it ONCE (memoInput —
      // released with the "q" scope), never re-run the groupBy+joins
      val spend = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders").groupBy("o_custkey")
        .agg(floor(sum(dec("o_totalprice")) * 100).cast("long").as("cents"))
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))), "o_custkey")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_regionkey"))), "c_nationkey")
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey").as("n_regionkey"), col("r_name"))), "n_regionkey")
        .select(col("r_name"), col("cents")), "q")
      // two-pass bounded-histogram exact quartiles — same interpolation
      // contract as percentile(), but the per-region state is
      // domain/width buckets + width in-bucket values, never the full
      // distinct multiset of per-customer totals (BoundedPercentile)
      val fences = graft.operators.BoundedPercentile.fences(spend,
          Seq("r_name"), "cents",
          Seq(graft.operators.BoundedPercentile.Spec("q1", 1, 4),
            graft.operators.BoundedPercentile.Spec("q3", 3, 4)),
          width = 1L << 16, countCol = Some("n_customers"))
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
        .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
      spend.join(broadcast(fences), "r_name")
        .groupBy(col("r_name"), col("n_customers"), col("lo"), col("hi"))
        .agg(
          sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("cents") > col("hi"), 1L).otherwise(0L)).as("n_high"),
          max(when(col("cents") > col("hi"), col("cents"))).as("max_out_cents"))
        .orderBy("r_name")
    }),

    // SCD TYPE-2 dimension build + point-in-time fact attribution —
    // the warehouse dimension-versioning op: each user's signup events
    // become versions with [valid_from, valid_to) intervals (lead()
    // closes each interval, the open one is current), and purchase
    // facts attribute to the version in effect at their timestamp.
    // The point-in-time join is an EQUI-join on the natural key with
    // the interval test as a residual filter — a plain hash join that
    // shuffles both sides on user_id (the co-location a 100-TB
    // dimension join needs), never an interval nested-loop. Versions
    // with no facts survive via the left join (n_purch 0); facts
    // before the first version drop by definition. Money sums in
    // exact DECIMAL, final-cast DOUBLE (the pack's output-type rule).
    "q_scd2" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wv = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
      val dim = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("valid_from"), col("event_id"))
        .withColumn("version", row_number().over(wv))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
        .drop("event_id").as("d")
      val f = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value")).as("f")
      dim.join(f,
          col("f.user_id") === col("d.user_id") &&
            col("f.ts") >= col("d.valid_from") &&
            (col("d.valid_to").isNull || col("f.ts") < col("d.valid_to")),
          "left")
        .groupBy(col("d.user_id").as("user_id"), col("version"),
          col("valid_from"), col("valid_to"))
        .agg(count(col("f.ts")).as("n_purch"),
          coalesce(sum(col("f.value").cast("decimal(18,2)")).cast("double"),
            lit(0.0)).as("sum_value"))
        .select(col("user_id"), col("version"), col("valid_from"),
          col("valid_to").isNull.as("is_current"), col("n_purch"), col("sum_value"))
        .orderBy("user_id", "version")
    }),

    // Z-ORDER layout audit — the multi-dimensional data-layout op: map
    // both join keys onto a 256x256 grid (integer-exact normalization
    // off one broadcast min/max row), interleave the grid bits into a
    // Morton key, and report each 256-cell z-block's row count and
    // bounding box. Every z-block covers a SMALL rectangle in BOTH
    // dimensions (bbox_area prices it) — the zone-map certificate
    // that a z-sorted 100-TB table prunes file-level min/max on
    // either key, where a lexicographic sort localizes only the
    // leading one. One scan + one tiny broadcast bounds row + one
    // 256-group aggregate; the production writer is
    // repartitionByRange(zkey) + sortWithinPartitions (DEPLOY.md).
    "q_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      val bounds = li.agg(min("l_partkey").as("minp"), max("l_partkey").as("maxp"),
        min("l_suppkey").as("mins"), max("l_suppkey").as("maxs"))
      val g = li.join(broadcast(bounds)).select(
        expr("CAST(((l_partkey - minp) * 256) div (maxp - minp + 1) AS INT)").as("gx"),
        expr("CAST(((l_suppkey - mins) * 256) div (maxs - mins + 1) AS INT)").as("gy"))
      val morton = (0 until 8).map(i =>
          shiftleft(shiftright(col("gx"), i).bitwiseAND(lit(1)), 2 * i + 1) +
            shiftleft(shiftright(col("gy"), i).bitwiseAND(lit(1)), 2 * i))
        .reduce(_ + _)
      g.withColumn("zblock", shiftright(morton, 8))
        .groupBy("zblock")
        .agg(count(lit(1)).as("n_rows"),
          min("gx").as("gx_min"), max("gx").as("gx_max"),
          min("gy").as("gy_min"), max("gy").as("gy_max"))
        .withColumn("bbox_area",
          ((col("gx_max") - col("gx_min") + 1) *
            (col("gy_max") - col("gy_min") + 1)).cast("long"))
        .orderBy("zblock")
    }),

    // A/B EXPERIMENT readout — the experimentation-platform op: users
    // split into two arms by a deterministic hash gate (the same
    // md5-idx contract every sampling op uses — assignment is
    // reproducible and join-free), per-user purchase totals in exact
    // cents, then ONE conditional aggregation yields both arms' counts
    // and first two moments; means/variances/lift/Welch-z² come out as
    // integer micro-unit floor divisions over DECIMAL(38,0) sums — no
    // float accumulates anywhere, so the readout is bit-identical
    // cross-engine. Scale shape: one user_id shuffle + one scalar
    // aggregate; the moment sums fit 38 digits through ~1e12-cent arm
    // totals (beyond that a platform scales cents to dollars first —
    // same two-level aggregation, wider headroom).
    "q_abtest" -> ((s, dir) =>
      abtestReadout(t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(floor(sum(col("value").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
        .withColumn("arm",
          (graft.functions.Determinism.md5Idx(
            concat(lit("ab#"), col("user_id").cast("string"))) % 2)
            .cast("int")))),

    // CHI-SQUARE independence audit over the (lang × source)
    // contingency table — the data-drift / composition-shift monitor a
    // corpus pipeline runs between snapshots. One groupBy builds the
    // observed cells; margins and the grand total are window sums over
    // that |langs|·|sources|-row relation (tiny whatever the corpus —
    // the single-partition windows are over cells, never rows).
    // Expected counts and per-cell contributions are integer
    // micro-unit floor divisions — dev = (obs·N − rt·ct) div N (the
    // floored obs−exp), contrib = (1e6·dev²·N) div (rt·ct) — floored
    // identically on both engines, so the statistic is deterministic
    // cross-engine with no float ever formed. The dev pre-floor is
    // what keeps the arithmetic inside 38 digits at ~1e9 documents
    // (the raw (obs·N − rt·ct)² form needs ~42 and NULLs silently).
    "q_chisq" -> ((s, dir) =>
      chisqReadout(t(s, dir, "documents").groupBy("lang", "source")
        .agg(count(lit(1)).as("obs")))),

    // EQUI-DEPTH histogram — the feature-bucketing / range-partition
    // planning op: 9 interior deciles of the price distribution (same
    // rounded-interpolation contract as q_percentile/q_outliers) come
    // from one aggregate, broadcast back as a single bounds row, and
    // every row bins by counting boundaries strictly below it — a
    // codegen chain of compares, no sort, no ntile (a global ntile IS
    // a global sort; boundary-broadcast binning is how a range
    // partitioner actually scales). Per-bin population + exact min/max
    // document how even the depths landed.
    "q_equidepth" -> ((s, dir) => {
      // the cent projection feeds both fence passes AND the binning
      // scan: one materialization (memoInput, "q"-scoped release)
      val c = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders")
          .select(floor(dec("o_totalprice") * 100).cast("long").as("cents")),
        "q")
      // all 9 deciles from ONE two-pass bounded histogram — pass 1 and
      // pass 2 are shared across the specs, and no percentile() buffer
      // of the full cent multiset ever forms (BoundedPercentile).
      val bounds = graft.operators.BoundedPercentile.fences(c,
        Seq.empty, "cents",
        (1 to 9).map(k =>
          graft.operators.BoundedPercentile.Spec(s"b$k", k, 10)),
        width = 1L << 16)
      val bin = (1 to 9).map(k =>
          when(col("cents") > col(s"b$k"), 1).otherwise(0))
        .reduce(_ + _) + lit(1)
      c.join(broadcast(bounds))
        .withColumn("bin", bin.cast("int"))
        .groupBy("bin").agg(count(lit(1)).as("n_rows"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
        .orderBy("bin")
    }),

    // SESSION PATH mining — the user-journey op one level above
    // q_transitions' bigrams: each session's first 5 event types
    // become an ordered path string, then the corpus's top-20 paths by
    // session count. The path assembles via max(when(rn = k)) pivots —
    // pure codegen, no ordered collect_list (whose sort buffer is the
    // non-deterministic trap) — and concat_ws skips the NULL slots of
    // short sessions identically on both engines. Scale shape: the
    // sessionize window shuffles on user_id once (shared with
    // q_sessionize), paths aggregate map-side, and the top-20 is
    // TakeOrdered — never a global sort.
    "q_paths" -> ((s, dir) => {
      val wE = Window.partitionBy("user_id", "session_idx")
        .orderBy("ts", "event_id")
      val p = Sessionize(t(s, dir, "events"), "user_id", "ts", "event_id",
          gapSeconds = 1800)
        .withColumn("rn", row_number().over(wE))
        .filter(col("rn") <= 5)
        .groupBy("user_id", "session_idx")
        .agg(concat_ws(">",
          (1 to 5).map(k =>
            max(when(col("rn") === k, col("event_type")))): _*).as("path"))
      p.groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc)
        .limit(20)
    }),

    // BENFORD first-digit audit — the fraud / synthetic-data screen:
    // leading digit of each order's cent amount vs Benford's law, with
    // the log10(1+1/d) expectations baked as INTEGER ppm literals
    // (benfordPpm — one Scala constant table generates BOTH engine
    // sides, summing to exactly 1e6, so no transcendental ever
    // evaluates at query time). One scan, a 9-row aggregate, and the
    // deviation column is the audit: natural spend data tracks the
    // curve, fabricated or clipped data does not.
    "q_benford" -> ((s, dir) => {
      // non-positive amounts have no leading digit and are excluded
      // ON BOTH SIDES (a zero-cent row would index element_at at 0 —
      // an error — and a refund's '-' would NULL on Spark but error
      // on DuckDB); audit refunds as their own population.
      t(s, dir, "orders")
        .select(expr("""CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))
          * 100) AS BIGINT)""").as("cents"))
        .filter(col("cents") >= 1L)
        .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS INT)")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_orders"))
        .withColumn("obs_ppm",
          expr("""CAST((1000000 * CAST(n_orders AS DECIMAL(38,0)))
            div sum(n_orders) OVER () AS BIGINT)"""))
        .withColumn("benford_ppm",
          element_at(lit(benfordPpm.toArray), col("digit")))
        .withColumn("dev_ppm", col("obs_ppm") - col("benford_ppm"))
        .orderBy("digit")
    }),

    // PARETO concentration readout — the revenue-concentration audit
    // (who carries the corpus): per-customer exact cent totals, the
    // p90/p99 spend fences from one aggregate broadcast back (the
    // q_outliers idiom — no global sort, no rank), and the share of
    // total revenue held above each fence in integer ppm. One
    // customer-keyed shuffle + one scalar pass whatever the corpus.
    "q_pareto" -> ((s, dir) => {
      // per-customer totals feed both fence passes + the share scan:
      // one materialization (memoInput, "q"-scoped release)
      val spend = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders").groupBy("o_custkey")
          .agg(floor(sum(dec("o_totalprice")) * 100).cast("long").as("cents")),
        "q")
      // bounded two-pass exact p90/p99 (BoundedPercentile): the fence
      // state never holds the per-customer distinct-total multiset
      val fences = graft.operators.BoundedPercentile.fences(spend,
        Seq.empty, "cents",
        Seq(graft.operators.BoundedPercentile.Spec("p90", 9, 10),
          graft.operators.BoundedPercentile.Spec("p99", 99, 100)),
        width = 1L << 16)
      spend.join(broadcast(fences))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("cents").cast("decimal(38,0)")).as("tot"),
          sum(when(col("cents") > col("p90"),
            col("cents").cast("decimal(38,0)")).otherwise(lit(0)
              .cast("decimal(38,0)"))).as("t90"),
          sum(when(col("cents") > col("p99"),
            col("cents").cast("decimal(38,0)")).otherwise(lit(0)
              .cast("decimal(38,0)"))).as("t99"),
          sum(when(col("cents") > col("p90"), 1L).otherwise(0L)).as("n90"),
          sum(when(col("cents") > col("p99"), 1L).otherwise(0L)).as("n99"))
        .select(col("n_customers"),
          col("tot").cast("long").as("total_cents"),
          col("n90"), col("n99"),
          expr("CAST((1000000 * t90) div tot AS BIGINT)").as("top10_share_ppm"),
          expr("CAST((1000000 * t99) div tot AS BIGINT)").as("top1_share_ppm"))
    }),

    // One-pass COVARIANCE MATRIX — the multi-metric profiling op a
    // feature platform runs before any modeling read (which metrics
    // co-move, per segment): all nine raw moments of (quantity,
    // price, discount) accumulate in ONE map-side-combined aggregate
    // in DECIMAL(38,0) — order-independent under any partial-agg
    // schedule, where a float covariance sum is not — then the
    // variance/covariance closed forms are integer floor-divisions.
    // Units are chosen so whole-squared-unit outputs stay visible
    // (qty in milli-units, price in cents, discount in basis points);
    // covariance numerators carry a +K·den SHIFT because a covariance
    // is SIGNED and Spark's `div` truncates toward zero where
    // DuckDB's `//` floors (the q_linreg trick — shifted positive,
    // the two agree). Digits: n·Sxy ≤ ~1e23 at sf0.1 and ~1e27 at
    // 1e9 rows — inside DECIMAL(38,0) with the 1e12·n² shift term
    // (~1e31 at 1e9 rows). One scan, |returnflag| output rows.
    "q_cov" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"),
        floor(col("l_quantity").cast("decimal(18,2)") * 1000)
          .cast("long").as("x"),
        floor(dec("l_extendedprice") * 100).cast("long").as("y"),
        floor(col("l_discount").cast("decimal(8,4)") * 10000)
          .cast("long").as("z"))
      // the shift term multiplies in DECIMAL(38,0) from the first
      // factor on — in BIGINT it would wrap past n ≈ 3e3 silently
      def covCol(sab: String, sa: String, sb: String, name: String) =
        expr(s"""CAST((n * $sab - $sa * $sb
          + CAST(1000000000000 AS DECIMAL(38,0)) * n * n) div (n * n)
          - 1000000000000 AS BIGINT)""").as(name)
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("decimal(38,0)").as("sx"),
          sum(col("y")).cast("decimal(38,0)").as("sy"),
          sum(col("z")).cast("decimal(38,0)").as("sz"),
          sum(col("x").cast("decimal(19,0)") * col("x")).as("sxx"),
          sum(col("y").cast("decimal(19,0)") * col("y")).as("syy"),
          sum(col("z").cast("decimal(19,0)") * col("z")).as("szz"),
          sum(col("x").cast("decimal(19,0)") * col("y")).as("sxy"),
          sum(col("x").cast("decimal(19,0)") * col("z")).as("sxz"),
          sum(col("y").cast("decimal(19,0)") * col("z")).as("syz"))
        .select(col("l_returnflag"), col("n"),
          covCol("sxx", "sx", "sx", "var_x"),
          covCol("syy", "sy", "sy", "var_y"),
          covCol("szz", "sz", "sz", "var_z"),
          covCol("sxy", "sx", "sy", "cov_xy"),
          covCol("sxz", "sx", "sz", "cov_xz"),
          covCol("syz", "sy", "sz", "cov_yz"))
        .orderBy("l_returnflag")
    }),

    // CUSUM CHANGEPOINT detection over the daily revenue series — the
    // offline level-shift estimator (Page's cumulative sum; the argmax
    // of |CUSUM| is the classic single-changepoint location): daily
    // cent totals, deviations from the series mean (one scalar
    // aggregate broadcast back, integer div), running cumulative sum.
    // The unpartitioned windows run over the |days|-grain relation —
    // a few thousand rows whatever the corpus (the same bounded-grain
    // contract as q_window_range's daily rollup), never over orders.
    "q_cusum" -> ((s, dir) => {
      val daily = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders")
          .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
            floor(dec("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("day").agg(sum("cents").as("tot_cents")),
        "q")
      val g = daily.agg(sum(col("tot_cents").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("ndays"))
      val wRun = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(g))
        .withColumn("dev",
          col("tot_cents") - expr("CAST(s div ndays AS BIGINT)"))
        .withColumn("cusum_cents", sum("dev").over(wRun))
        .withColumn("peak",
          max(abs(col("cusum_cents"))).over(Window.partitionBy()))
        .select(col("day"), col("tot_cents"), col("cusum_cents"),
          when(abs(col("cusum_cents")) === col("peak"), 1)
            .otherwise(0).cast("int").as("is_changepoint"))
        .orderBy("day")
    }),

    // DAY-OF-WEEK SEASONAL baseline + anomaly readout — the
    // seasonality-aware monitor q_window_range's rolling mean is
    // blind to (a quiet Sunday is normal; a quiet Tuesday is not):
    // day index and weekday are INTEGER epoch divisions (no calendar
    // or timezone arithmetic), the per-weekday baseline is one
    // 7-row aggregate over the daily grain broadcast back, and each
    // day reads as a ppm ratio vs its own weekday's mean. All
    // arithmetic integer floor-division, identical both engines;
    // everything past the one orders scan runs at the |days| grain.
    "q_seasonal" -> ((s, dir) =>
      seasonalReadout(graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders")
          .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
            floor(dec("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("day").agg(sum("cents").as("tot_cents")),
        "q"))),

    // SMALL-QUANTITY revenue probe (TPC-H Q17 flavor) — the
    // correlated-aggregate shape: lineitems whose quantity sits below
    // 20% of their OWN part's average quantity. The correlated
    // subquery decorrelates to a per-part aggregate joined back on
    // l_partkey — co-partitioned on the same key as the grouping, so
    // the join never reshuffles the fact side twice; the 0.2·avg
    // threshold compares in integer micro-units (5e6·qty <
    // avg_micro, both engines floor the avg identically). Output
    // rolls up by brand through the broadcast part dimension.
    "q_small_qty" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_partkey"),
        floor(col("l_quantity").cast("decimal(18,2)")).cast("long").as("qty"),
        floor(dec("l_extendedprice") * 100).cast("long").as("cents"))
      val avgq = li.groupBy("l_partkey")
        .agg(expr("""CAST((1000000 * CAST(sum(qty) AS DECIMAL(38,0)))
          div count(*) AS BIGINT)""").as("avg_micro"))
      li.join(avgq, "l_partkey")
        .filter(col("qty") * 5000000L < col("avg_micro"))
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), sum("cents").as("sum_cents"))
        .orderBy("p_brand")
    }),

    // LAST-TOUCH ATTRIBUTION — the marketing readout built on the
    // as-of machinery (q_asof joins; this PRICES the journeys): each
    // purchase attributes to the user's latest prior click within a
    // 7-day window (AsOfJoin union-window shape — one user_id
    // shuffle, linear per partition, no pair explosion), then the
    // attribution-latency histogram: organic / within the hour /
    // within the day / within the week, with purchase value in
    // integer micro-units. The histogram is a 4-row aggregate.
    "q_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value").cast("decimal(18,6)") * 1000000)
            .cast("long").as("vmicro"))
      val clicks = ev.filter(col("event_type") === "click")
      AsOfJoin(purchases, clicks, Seq("user_id"), "ts",
        rightVals = Seq("event_id", "ts"), tiebreak = "event_id",
        toleranceSeconds = Some(604800L))
        .withColumn("lat_us",
          unix_micros(col("ts")) - unix_micros(col("prior_ts")))
        .withColumn("bucket",
          when(col("prior_event_id").isNull, "4_organic")
            .when(col("lat_us") <= 3600000000L, "1_hour")
            .when(col("lat_us") <= 86400000000L, "2_day")
            .otherwise("3_week"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_purchases"),
          sum("vmicro").as("sum_value_micro"))
        .orderBy("bucket")
    }),

    // RFM SEGMENTATION — the classic customer-value grid (recency /
    // frequency / monetary, each scored 1-5 by its own quintile
    // fences): per-customer aggregates in integer units (days since
    // last order off one scalar max broadcast, order count, cent
    // total), three bounded two-pass quintile computations
    // (BoundedPercentile — no percentile() buffer of the per-customer
    // multisets ever forms), fences broadcast back as single rows,
    // scores by codegen compare-chains (the q_equidepth idiom — no
    // sort, no ntile). Output is the ≤125-cell segment grid with
    // exact population and mean-spend micro. Recency scores INVERT
    // (5 = most recent) per the marketing convention.
    "q_rfm" -> ((s, dir) => {
      import graft.operators.BoundedPercentile
      val mx = t(s, dir, "orders")
        .agg(max(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")).as("mxus"))
      val per = BoundedPercentile.memoInput(
        t(s, dir, "orders").groupBy("o_custkey")
          .agg(max(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")).as("last_us"),
            count(lit(1)).as("freq"),
            floor(sum(dec("o_totalprice")) * 100).cast("long").as("m_cents"))
          .crossJoin(broadcast(mx))
          .select(col("o_custkey"),
            expr("(mxus - last_us) div 86400000000").as("rec_days"),
            col("freq"), col("m_cents")),
        "q")
      // ONE fencesBy pass computes all 12 fences (was: three fences
      // calls = three histogram checkpoints + three boundary subtrees
      // + three broadcast joins — 51 jobs for 1.3 cpu-s, pure
      // scheduling latency): the three metrics unpivot to (met, v)
      // rows keyed by metric, each metric keeps its own bucket width,
      // and the per-metric quintiles come out of one keyed pass —
      // identical values, the algorithm per key group is unchanged.
      val melted = per.select(explode(array(
          struct(lit("r").as("met"), col("rec_days").as("v")),
          struct(lit("f").as("met"), col("freq").as("v")),
          struct(lit("m").as("met"), col("m_cents").as("v")))).as("t"))
        .select(col("t.met").as("met"), col("t.v").as("v"))
      val widthOf = when(col("met") === "r", lit(32L))
        .when(col("met") === "f", lit(8L))
        .otherwise(lit(1L << 16))
      val fr = BoundedPercentile.fencesBy(melted, Seq("met"), "v",
        (1 to 4).map(k => BoundedPercentile.Spec(s"p$k", k, 5)), widthOf)
      // pivot the 3 metric rows into the one fence row every customer
      // broadcasts against (rb1..rb4 / fb... / mb... as before)
      val pivots = for {
        (m, pfx) <- Seq(("r", "rb"), ("f", "fb"), ("m", "mb"))
        k <- 1 to 4
      } yield max(when(col("met") === m, col(s"p$k"))).as(s"$pfx$k")
      val allFences = fr.agg(pivots.head, pivots.tail: _*)
      def score(vcol: String, pfx: String) =
        (1 to 4).map(k => when(col(vcol) > col(s"$pfx$k"), 1).otherwise(0))
          .reduce(_ + _) + lit(1)
      per.join(broadcast(allFences))
        .withColumn("r_score", (lit(6) - score("rec_days", "rb")).cast("int"))
        .withColumn("f_score", score("freq", "fb").cast("int"))
        .withColumn("m_score", score("m_cents", "mb").cast("int"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          expr("""CAST((1000000 * CAST(sum(m_cents) AS DECIMAL(38,0)))
            div count(*) AS BIGINT)""").as("avg_monetary_micro"))
        .orderBy("r_score", "f_score", "m_score")
    }),

    // JOIN-KEY SKEW audit — the pre-join diagnostic that justifies
    // q_skew_join's salting decision (which keys are hot, and by how
    // much): per-key counts from one map-side-combined aggregate, the
    // key population and total from one scalar aggregate broadcast
    // back, each key's ratio-to-mean in integer ppm (the 1e6 factor
    // multiplies in DECIMAL(38,0) — cnt·n_keys overflows BIGINT at
    // ~1e9-row keys on ~1e7-key domains), hot = ratio > 10x. The
    // top-10 cut is a TakeOrdered with the key as tiebreak — the
    // |keys|-sized relation never globally sorts.
    "q_skew_audit" -> ((s, dir) => {
      val cnt = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "lineitem").groupBy("l_suppkey")
          .agg(count(lit(1)).as("cnt")),
        "q")
      val g = cnt.agg(count(lit(1)).as("n_keys"),
        sum(col("cnt").cast("decimal(38,0)")).as("tot"))
      cnt.crossJoin(broadcast(g))
        .select(col("l_suppkey"), col("cnt"), col("n_keys"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * cnt * n_keys)
            div tot AS BIGINT)""").as("ratio_to_mean_ppm"))
        .withColumn("is_hot",
          when(col("ratio_to_mean_ppm") > 10000000L, 1).otherwise(0)
            .cast("int"))
        .orderBy(col("cnt").desc, col("l_suppkey"))
        .limit(10)
    }),

    // MARKET-BASKET association rules — brand pairs co-ordered in one
    // order, with support / confidence / lift (the co-occurrence
    // readout a merchandising or data-mixing decision reads): one
    // distinct (order, brand) relation feeds everything, the pair
    // candidates come from a SELF-JOIN ON THE ORDER KEY — the
    // expansion is bounded by brands-per-order (≤ order size), never
    // |brands|² — and the per-brand marginals + the order total are
    // tiny broadcasts back onto the ≤|brands|² pair relation. Lift's
    // 1e6·support·n product runs in DECIMAL(38,0) (1e6·1e9·1e9 needs
    // ~1e24); all ratios integer floor-division, identical engines.
    "q_basket_pairs" -> ((s, dir) => {
      val ob = basketOb(s, dir)
      val bcnt = ob.groupBy("brand").agg(count(lit(1)).as("cnt"))
      val n = ob.agg(countDistinct("o").as("n_orders"))
      val pairs = basketPairSup(s, dir)
        .select(col("ba").as("brand_a"), col("bb").as("brand_b"),
          col("sup").as("support"))
      pairs
        .join(broadcast(bcnt.select(col("brand").as("brand_a"),
          col("cnt").as("cnt_a"))), "brand_a")
        .join(broadcast(bcnt.select(col("brand").as("brand_b"),
          col("cnt").as("cnt_b"))), "brand_b")
        .crossJoin(broadcast(n))
        // joins/sorts ran on dictionary positions; decode at the readout
        // (sorted dictionary: position order == string order)
        .select(brandOf(s, dir)(col("brand_a")).as("brand_a"),
          brandOf(s, dir)(col("brand_b")).as("brand_b"), col("support"),
          expr("CAST((1000000 * support) div cnt_a AS BIGINT)")
            .as("conf_ppm"),
          expr("""CAST((1000000 * CAST(support AS DECIMAL(38,0)) * n_orders)
            div (CAST(cnt_a AS DECIMAL(38,0)) * cnt_b) AS BIGINT)""")
            .as("lift_ppm"))
        .orderBy("brand_a", "brand_b")
    }),

    // WALD–WOLFOWITZ RUNS TEST — the randomness audit on the daily
    // revenue sequence (is the series a coin flip around its median,
    // or does it trend/oscillate? — the question q_acf answers in
    // magnitude, this answers as a distribution-free count): days
    // binarize against the lower-median daily revenue (an exact
    // |days|-grain order statistic), runs count by one lag window over
    // the day-ordered sequence, and the null expectation
    // E[R] = 2·n₁·n₂/n + 1 emits in integer ppm next to the observed
    // count. Everything after the one orders scan is |days|-grain.
    "q_runs" -> ((s, dir) => {
      val d = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders")
          .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
            floor(dec("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("day").agg(sum("cents").as("rev")),
        "q")
      val med = d
        .withColumn("rn", row_number().over(
          Window.orderBy(col("rev"), col("day"))))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
        .filter(expr("rn = (nd + 1) div 2"))
        .select(col("rev").as("med"))
      val signed = d.crossJoin(broadcast(med)) // 1-row scalar attach
        .select(col("day"), when(col("rev") > col("med"), 1L).otherwise(0L)
          .as("s"))
        .withColumn("chg",
          when(lag("s", 1).over(Window.orderBy("day")).isNull, 1L)
            .when(lag("s", 1).over(Window.orderBy("day")) =!= col("s"), 1L)
            .otherwise(0L))
      signed.agg(count(lit(1)).as("n_days"),
          sum("s").as("n_above"),
          (count(lit(1)) - sum("s")).as("n_below"),
          sum("chg").as("runs"))
        .select(col("n_days"), col("n_above"), col("n_below"), col("runs"),
          expr("""CAST((2000000 * n_above * n_below) div n_days + 1000000
            AS BIGINT)""").as("expected_ppm"))
    }),

    // KOLMOGOROV–SMIRNOV two-sample statistic — the whole-distribution
    // A/B readout q_mwu's rank test can't give (MWU reads a location
    // shift; KS reads ANY shape difference): D = max |F_A − F_B| over
    // the pooled distinct order totals, both ECDFs as integer ppm
    // floor divisions (the ppm-resolution statistic IS the contract,
    // so both engines agree exactly). Cumulatives ride the q_mwu
    // bucket-prefix discipline — bucket histogram window + in-bucket
    // distinct-value prefix, nothing sorts the fact rows — and the
    // argmax row is a bounded-grain TakeOrdered with value tie-break.
    "q_ks" -> ((s, dir) => {
      val width = 1L << 16
      val per = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders").select(
          floor(dec("o_totalprice") * 100).cast("long").as("cents"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("arm")),
        "q")
      val v = graft.operators.BoundedPercentile.memoInput(
        per.withColumn("bkt", expr(s"cents div ${width}L"))
          .groupBy("bkt", "cents")
          .agg(count(lit(1)).as("c"), sum("arm").as("ca")),
        "q")
      val hcum = v.groupBy("bkt")
        .agg(sum("c").as("bc"), sum("ca").as("bca"))
        .select(col("bkt"),
          (sum("bc").over(Window.orderBy("bkt")) - col("bc")).as("cb"),
          (sum("bca").over(Window.orderBy("bkt")) - col("bca")).as("cba"))
      val wIn = Window.partitionBy("bkt").orderBy("cents")
      val vin = v
        .withColumn("ci", sum("c").over(wIn) - col("c"))
        .withColumn("cia", sum("ca").over(wIn) - col("ca"))
      val tot = per.agg(sum("arm").as("n_a"),
        (count(lit(1)) - sum("arm")).as("n_b"))
      vin.join(hcum, "bkt")
        .crossJoin(broadcast(tot)) // 1-row scalar attach
        .select(col("cents"), col("n_a"), col("n_b"),
          (col("cba") + col("cia") + col("ca")).as("cum_a"),
          (col("cb") + col("ci") + col("c")
            - (col("cba") + col("cia") + col("ca"))).as("cum_b"))
        .select(col("cents"), col("n_a"), col("n_b"),
          expr("""abs((1000000 * cum_a) div n_a
            - (1000000 * cum_b) div n_b)""").as("d_ppm"))
        .orderBy(col("d_ppm").desc, col("cents").asc)
        .limit(1)
        .select(col("n_a"), col("n_b"), col("d_ppm"),
          col("cents").as("at_cents"))
    }),

    // TRIMMED MEAN per priority — the robust location estimate between
    // q_mad (median-based) and the raw mean: drop the lowest and
    // highest n/10 order totals EXACTLY, without ever sorting the fact
    // rows — the q_gini bucketed distinct-value prefix gives each tie
    // block its rank interval [r0+1, r0+c], and the block's kept mass
    // is the integer overlap with [k+1, n−k] (one greatest/least
    // chain, codegen). Everything past the scan runs at the |distinct
    // cents| grain; the raw mean rides the same pass for contrast.
    "q_trimmed" -> ((s, dir) => {
      val width = 1L << 16
      val per = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders").select(col("o_orderpriority").as("grp"),
          floor(dec("o_totalprice") * 100).cast("long").as("cents")),
        "q")
      val v = graft.operators.BoundedPercentile.memoInput(
        per.withColumn("bkt", expr(s"cents div ${width}L"))
          .groupBy("grp", "bkt", "cents").agg(count(lit(1)).as("c")),
        "q")
      val hcum = v.groupBy("grp", "bkt").agg(sum("c").as("bc"))
        .withColumn("cb",
          sum("bc").over(Window.partitionBy("grp").orderBy("bkt"))
            - col("bc"))
      val vin = v.withColumn("ci",
        sum("c").over(Window.partitionBy("grp", "bkt").orderBy("cents"))
          - col("c"))
      val tot = per.groupBy("grp").agg(count(lit(1)).as("n"))
        .withColumn("k", expr("n div 10"))
      vin.join(hcum.select("grp", "bkt", "cb"), Seq("grp", "bkt"))
        .withColumn("r0", col("cb") + col("ci"))
        .join(broadcast(tot), "grp")
        .withColumn("kept",
          expr("greatest(0L, least(r0 + c, n - k) - greatest(r0, k))"))
        .groupBy("grp").agg(
          max("n").as("n"), max("k").as("k_trim"),
          sum(expr("CAST(cents AS DECIMAL(38,0)) * c")).as("sall"),
          sum(expr("CAST(cents AS DECIMAL(38,0)) * kept")).as("skept"))
        .select(col("grp"), col("n"), col("k_trim"),
          expr("CAST((1000000 * sall) div n AS BIGINT)").as("mean_micro"),
          expr("CAST((1000000 * skept) div (n - 2 * k_trim) AS BIGINT)")
            .as("trimmed_micro"))
        .orderBy("grp")
    }),

    // APRIORI LEVEL-3 — frequent brand TRIPLES with the classic
    // candidate-generate-and-prune step on top of q_basket_pairs'
    // frequent pairs: candidates come from F2⋈F2 on the shared first
    // brand with the (b,c)-must-be-frequent Apriori prune (sound by
    // anti-monotonicity — support(abc) ≤ support(bc), so nothing a
    // direct count would keep is lost), and the pruned candidate set
    // (≤ |F2|·√|F2|, brand-bounded) BROADCASTS as a semi-join filter
    // onto the per-order expansion BEFORE the third join — per-order
    // work stays bounded by basket size, the brand-triple explosion
    // never materializes, and the count shuffle carries only
    // candidate-surviving rows.
    "q_basket_triples" -> ((s, dir) => {
      val ob = basketOb(s, dir)
      val pairsAll = basketPairRows(s, dir)
      val f2 = basketPairSup(s, dir)
      val cand = graft.operators.BoundedPercentile.memoInput(
        f2.select("ba", "bb").as("p")
          .join(f2.select(col("ba"), col("bb").as("bc")).as("c2"),
            col("p.ba") === col("c2.ba") && col("p.bb") < col("c2.bc"))
          .select(col("p.ba").as("ca"), col("p.bb").as("cb"),
            col("c2.bc").as("cc"))
          .join(f2.select(col("ba").as("cb"), col("bb").as("cc")),
            Seq("cb", "cc"), "left_semi"),
        "q")
      t3From(ob, pairsAll, cand)
        .join(broadcast(f2.select(col("ba"), col("bb"),
          col("sup").as("sup_ab"))), Seq("ba", "bb"))
        // joins/sorts ran on dictionary positions; decode at the readout
        .select(brandOf(s, dir)(col("ba")).as("brand_a"),
          brandOf(s, dir)(col("bb")).as("brand_b"),
          brandOf(s, dir)(col("bc")).as("brand_c"), col("support"),
          expr("CAST((1000000 * support) div sup_ab AS BIGINT)")
            .as("conf_ppm"))
        .orderBy("brand_a", "brand_b", "brand_c")
    }),

    // EXACT GINI coefficient per market segment — the inequality
    // readout behind q_pareto's share cut (one number instead of two
    // slices). Gini needs Σ rank·x over the value-sorted per-customer
    // spend — a global sort per segment if done naively (one reducer
    // holds a whole segment at 10⁹ customers). Here the rank never
    // materializes per row: ranks come from the BoundedPercentile
    // bucket discipline — a `cents div width` histogram whose per-
    // segment cumulative window runs over ≤ domain/width rows, plus an
    // in-bucket DISTINCT-VALUE prefix (≤ width longs per group) — and
    // a tie block of c equal values starting after r0 rows contributes
    // the closed form x·(c·r0 + c(c+1)/2), so per-row ranks are never
    // assigned at all (they'd be arbitrary within ties anyway; the
    // closed form is what any tie-break sums to). All moments in
    // DECIMAL(38,0): 2·S1 ~ n²·x ≈ 1e25 at 1e9 customers — inside 38
    // digits; the final ppm is one integer floor-division (numerator
    // ≥ 0 by Chebyshev's sum inequality, so div == //).
    "q_gini" -> ((s, dir) => {
      val width = 1L << 16
      val per = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(floor(sum(dec("o_totalprice")) * 100).cast("long").as("cents"))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg")),
            col("o_custkey") === col("c_custkey"))
          .select("seg", "cents"),
        "q")
      val v = graft.operators.BoundedPercentile.memoInput(
        per.withColumn("bkt", expr(s"cents div ${width}L"))
          .groupBy("seg", "bkt", "cents").agg(count(lit(1)).as("c")),
        "q")
      val hcum = v.groupBy("seg", "bkt").agg(sum("c").as("bc"))
        .withColumn("cb",
          sum("bc").over(Window.partitionBy("seg").orderBy("bkt"))
            - col("bc"))
      val vin = v.withColumn("ci",
        sum("c").over(Window.partitionBy("seg", "bkt").orderBy("cents"))
          - col("c"))
      vin.join(hcum.select("seg", "bkt", "cb"), Seq("seg", "bkt"))
        .withColumn("r0", col("cb") + col("ci"))
        .groupBy("seg")
        .agg(sum("c").as("n_customers"),
          sum(col("cents").cast("decimal(38,0)") * col("c")).as("sx"),
          sum(col("cents").cast("decimal(38,0)")
            * (expr("CAST(c AS DECIMAL(38,0)) * r0")
              + expr("(CAST(c AS DECIMAL(38,0)) * (c + 1)) div 2")))
            .as("s1"))
        .select(col("seg"), col("n_customers"),
          col("sx").cast("long").as("sum_cents"),
          expr("""CAST((1000000 * (2 * s1 - (n_customers + 1) * sx))
            div (n_customers * sx) AS BIGINT)""").as("gini_ppm"))
        .orderBy("seg")
    }),

    // AUTOCORRELATION of the daily revenue series at lags 1..7 — the
    // signal q_seasonal assumes (is there weekly structure at all?)
    // and a forecast-readiness readout: deviations around the FLOORED
    // series mean (q_cusum's exact-integer deviation — both engines
    // floor S div n identically; the estimator shift is defined, not
    // approximated), lag pairs by an explicit day-key join (calendar
    // gaps pair only existing days — never a row-offset window that
    // silently misreads gaps), one 7-way fan-out via explode so all
    // lags ride ONE |days|-grain join. acf_ppm = 1e6·Σdev_t·dev_{t+L}
    // over Σdev² with the q_cov +K·den shift (the numerator is
    // SIGNED; |num| ≤ den by Cauchy-Schwarz keeps the shifted form
    // positive, where truncate-toward-zero == floor). Everything past
    // the one orders scan runs at the |days| grain.
    "q_acf" -> ((s, dir) => {
      val daily = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders")
          .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
            floor(dec("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("day").agg(sum("cents").as("x")),
        "q")
      val g = daily.agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("s"))
      val dev = graft.operators.BoundedPercentile.memoInput(
        daily.crossJoin(broadcast(g))
          .select(col("day"),
            (col("x") - expr("CAST(s div n AS BIGINT)")).as("dev")),
        "q")
      val den = dev.agg(
        sum(expr("CAST(dev AS DECIMAL(19,0)) * dev")).as("den"))
      val fan = dev.select(col("day"), col("dev").as("dev2"),
          explode(expr("sequence(1L, 7L)")).as("lag"))
        .select((col("day") - col("lag")).as("day"), col("lag"),
          col("dev2"))
      dev.join(fan, "day")
        .groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(dev AS DECIMAL(19,0)) * dev2")).as("num"))
        .crossJoin(broadcast(den))
        .select(col("lag").cast("int").as("lag"), col("n_pairs"),
          expr("""CAST((1000000 * num + 2000000 * den) div den
            - 2000000 AS BIGINT)""").as("acf_ppm"))
        .orderBy("lag")
    }),

    // MANN-WHITNEY U — the nonparametric A/B readout q_abtest's Welch
    // z² can't give when spend is heavy-tailed (rank tests don't care
    // about the tail): urgent/high-priority orders vs the rest on
    // order-total cents. Ranks never materialize per row — the same
    // bucketed distinct-value prefix as q_gini (bounded bucket
    // histogram window + in-bucket ≤width-value window), and a tie
    // block contributes its MIDRANK sum in the closed form
    // ca·(2·r0 + c + 1) kept DOUBLED so the ½s of midranks stay
    // integer. 2U_A = 2R_A − n_A(n_A+1); the common-language effect
    // size (P[A > B] + ½P[A = B]) and the rank-biserial correlation
    // are integer ppm off it. One row out; everything after the one
    // orders scan runs at the |distinct cents| grain.
    "q_mwu" -> ((s, dir) => {
      val width = 1L << 16
      val per = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders").select(
          floor(dec("o_totalprice") * 100).cast("long").as("cents"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("arm")),
        "q")
      val v = per.withColumn("bkt", expr(s"cents div ${width}L"))
        .groupBy("bkt", "cents")
        .agg(count(lit(1)).as("c"), sum("arm").as("ca"))
      val vM = graft.operators.BoundedPercentile.memoInput(v, "q")
      val hcum = vM.groupBy("bkt").agg(sum("c").as("bc"))
        .withColumn("cb",
          sum("bc").over(Window.orderBy("bkt")) - col("bc"))
      val vin = vM.withColumn("ci",
        sum("c").over(Window.partitionBy("bkt").orderBy("cents")) - col("c"))
      vin.join(hcum.select("bkt", "cb"), "bkt")
        .withColumn("r0", col("cb") + col("ci"))
        .agg(sum("ca").as("n_a"), sum(col("c") - col("ca")).as("n_b"),
          sum(col("ca").cast("decimal(38,0)")
            * (lit(2) * col("r0") + col("c") + 1)).as("r2a"))
        .select(col("n_a"), col("n_b"),
          expr("CAST(r2a - n_a * (CAST(n_a AS DECIMAL(38,0)) + 1) AS BIGINT)")
            .as("u2"),
          expr("""CAST((1000000 * (r2a - n_a * (CAST(n_a AS DECIMAL(38,0)) + 1)))
            div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""")
            .as("cles_ppm"))
        .withColumn("rb_ppm", (col("cles_ppm") * 2 - 1000000L).cast("long"))
    }),

    // KENDALL τ_a between daily revenue and daily order count — the
    // rank-association readout (does more volume actually move more
    // money, monotonically?) that q_cov's linear covariance can't
    // give: concordance is counted over day PAIRS at the bounded
    // |days| grain (the q_cusum contract — a few thousand rows
    // whatever the corpus, so the pair self-join is ≤ |days|²/2,
    // bounded work, never a fact-table pair explosion). Signs compare
    // via CASE chains — never dx·dy, whose cross-product overflows
    // BIGINT at daily-total magnitudes — and the signed C−D divides
    // with the q_cov +K shift. Exact integers end to end.
    "q_kendall" -> ((s, dir) => {
      val d = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders")
          .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
            floor(dec("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("day")
          .agg(sum("cents").as("rev"), count(lit(1)).as("cnt")),
        "q")
      val sgn = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        when(a > b, 1).when(a < b, -1).otherwise(0)
      d.as("a").join(d.as("b"), col("a.day") < col("b.day"))
        .select((sgn(col("a.rev"), col("b.rev"))
          * sgn(col("a.cnt"), col("b.cnt"))).as("s"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("s") === 1, 1L).otherwise(0L)).as("concordant"),
          sum(when(col("s") === -1, 1L).otherwise(0L)).as("discordant"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          expr("""CAST((1000000 * (CAST(concordant AS DECIMAL(38,0)) - discordant)
            + 2000000 * CAST(n_pairs AS DECIMAL(38,0))) div n_pairs
            - 2000000 AS BIGINT)""").as("tau_ppm"))
    }),

    // DETERMINISTIC POISSON BOOTSTRAP of the mean order total — the
    // distributed bootstrap (multinomial resampling needs a global
    // coordinated draw; Poisson(1) weights are per-row independent,
    // the large-scale standard): each row gets, per replicate b, a
    // weight drawn by inverting the Poisson(1) CDF at a keyed-md5
    // uniform — the CDF as a FIXED ppm table ([[poissonCdfPpm]], the
    // benfordPpm discipline: one literal table feeds both engines, no
    // transcendental is ever evaluated in-query). The 32× explode
    // fan-out map-side combines into 32 partial sums — the shuffle
    // carries B rows, not B corpora — and each replicate mean is one
    // integer division. The 32-row output IS the bootstrap
    // distribution; its spread is the standard error readout.
    "q_bootstrap" -> ((s, dir) => {
      val fan = t(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(dec("o_totalprice") * 100).cast("long").as("cents"))
        .select(col("o_orderkey"), col("cents"),
          explode(expr(s"sequence(0, ${BootstrapB - 1})")).as("b"))
        .withColumn("u", graft.functions.Determinism.md5Idx(
          concat(lit("bs#"), col("b").cast("string"), lit("#"),
            col("o_orderkey").cast("string"))) % 1000000L)
      val wCol = poissonCdfPpm.zipWithIndex.reverse
        .foldLeft(lit(poissonCdfPpm.size.toLong): org.apache.spark.sql.Column) {
          case (acc, (t, k)) => when(col("u") < t, k.toLong).otherwise(acc)
        }
      fan.withColumn("w", wCol)
        .groupBy("b")
        .agg(sum("w").as("n_eff"),
          sum(col("w").cast("decimal(38,0)") * col("cents")).as("swx"))
        .select(col("b").cast("int").as("b"), col("n_eff"),
          expr("CAST((1000000 * swx) div n_eff AS BIGINT)").as("mean_micro"))
        .orderBy("b")
    }),

    // THEIL–SEN robust trend — the slope estimator q_linreg's OLS
    // can't defend against outlier days (one flash-sale day drags a
    // least-squares line; the median of pairwise slopes shrugs it
    // off, 29% breakdown): pairwise slopes at the bounded |days|
    // grain (the q_kendall contract — ≤ |days|²/2 rows whatever the
    // corpus), each slope ONE integer floor division with the q_cov
    // +K·dday shift in DECIMAL(38,0) so both engines' divisions agree
    // on negative trends; the median is an exact order-statistic
    // selection (row_number at the bounded pair grain, deterministic
    // (slope, da, db) tie-break), and the intercept re-runs the same
    // selection over the |days| residuals of the chosen slope.
    "q_theilsen" -> ((s, dir) => {
      val d = graft.operators.BoundedPercentile.memoInput(
        t(s, dir, "orders")
          .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
            floor(dec("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("day").agg(sum("cents").as("rev")),
        "q")
      // pairwise slopes in PURE BIGINT: floor(1e6·Δrev / Δday) via the
      // pmod identity (nm − pmod(nm, dd)) div dd — exact floor for any
      // sign, zero decimal ops in the 2.9M-row hot loop (the DECIMAL
      // +K-shift first cut cost ~3x in codegen). Headroom: 1e6·|Δrev|
      // holds to |Δrev| ≤ 9.2e12 cents/day — $92B/day swings.
      def slopesOf(): DataFrame =
        d.as("a").join(d.as("b"), col("a.day") < col("b.day"))
          .select((col("b.day") - col("a.day")).as("dd"),
            (lit(1000000L) * (col("b.rev") - col("a.rev"))).as("nm"))
          // greatest() guard: BroadcastNestedLoopJoin codegen can run
          // this projection on candidate pairs BEFORE the dd > 0 join
          // condition culls them — ANSI mode then throws on the dd = 0
          // diagonal. Guarded rows never survive the condition, so the
          // guard value is unobservable.
          .select(expr("""CAST((nm - pmod(nm, greatest(dd, 1)))
            div greatest(dd, 1) AS BIGINT)""").as("slope"))
      // median by TWO PASSES over the (cheap, checkpointed-daily-grain)
      // pair generator — never a global sort of the |days|²/2 pair
      // relation (measured 12.5 s through one WindowExec partition at
      // sf0.1), never a pair-grain checkpoint: pass 1 folds pairs to a
      // bucket histogram (map-side combined; |buckets| rows total),
      // the target bucket + in-bucket offset fall out of a bounded
      // cumulative window, and pass 2 re-generates ONLY the target
      // bucket's pairs (the bucket predicate pushes into the join) and
      // walks its distinct-slope prefix. Engine-internal algorithm —
      // the oracle checks the median VALUE, which no tie-break moves.
      // bucket width 2^38, sized to the MICRO-scaled slope range
      // (±1e6·Δrev/Δday ~ ±1e15 here): ~15k buckets, so the
      // cumulative window is postcard-sized. The first cut used 2^16 —
      // one bucket PER PAIR (2.76M buckets, measured 4.3 s in the
      // histogram window alone); a selection bucket must compress.
      val width = 1L << 38
      val bktCol = expr(s"CAST((slope - pmod(slope, ${width}L)) div ${width}L AS BIGINT)")
      val bhist = slopesOf()
        .select(bktCol.as("bkt"))
        .groupBy("bkt").agg(count(lit(1)).as("bc"))
      val target = bhist
        .withColumn("cb", sum("bc").over(Window.orderBy("bkt")) - col("bc"))
        .withColumn("np", sum("bc").over(Window.partitionBy()))
        .withColumn("r", expr("(np + 1) div 2"))
        .filter(expr("cb < r AND r <= cb + bc"))
        .select(col("bkt").as("tb"), (col("r") - col("cb")).as("off"),
          col("np"))
      // med is ONE row but feeds two consumers (the intercept's resid
      // and the output) — without the eager checkpoint each consumer
      // re-runs both pair passes (measured 6 pair-join executions)
      val med = graft.operators.BoundedPercentile.memoInput(
        slopesOf()
          .select(col("slope"), bktCol.as("bkt"))
          .join(broadcast(target), col("bkt") === col("tb")) // 1-row filter
          .groupBy("slope", "off", "np").agg(count(lit(1)).as("c"))
          .withColumn("ci", sum("c").over(Window.orderBy("slope")))
          .filter(expr("ci - c < off AND off <= ci"))
          .select(col("slope").as("slope_micro"), col("np").as("n_pairs")),
        "q")
      val inter = d.crossJoin(broadcast(med)) // 1-row scalar attach
        .select(col("day"),
          expr("""CAST(1000000 AS DECIMAL(38,0)) * rev
            - CAST(slope_micro AS DECIMAL(38,0)) * day""").as("resid"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("resid"), col("day"))))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
        .filter(expr("rn = (nd + 1) div 2"))
        .select(expr("CAST(resid AS BIGINT)").as("intercept_micro"),
          col("nd").as("n_days"))
      med.crossJoin(broadcast(inter)) // 1×1-row
        .select(col("n_days"), col("n_pairs"), col("slope_micro"),
          col("intercept_micro"))
    }),

    // HYPERLOGLOG cardinality sketch, 64 registers — the third
    // mergeable sketch family (KMV = d_source_overlap, count-min =
    // x_cms_terms, bloom = x_bloom_membership): distinct customers per
    // order priority AND, inside the same query, the 'ALL' row whose
    // registers are the max-MERGE of the five per-group register sets
    // — mergeability is demonstrated by the result, not claimed.
    // Deterministic cross-engine: register = md5(48-bit) % 64, rank =
    // leading-zero CASE chain over the 42-bit remainder (no log/clz
    // builtin drift), estimate = the bias-corrected harmonic mean as
    // ONE integer floor division — S = Σ 2^(43−M_j) is exact in BIGINT
    // (≤ 2^49) and α·m²·2^43 is a DECIMAL(38,0) literal baked into
    // both engines ([[HllNum]]). No small-range linear-counting branch:
    // v_zero is emitted so a reader can apply it, keeping the query
    // transcendental-free. Scale: the shuffle carries ≤ groups×64
    // register rows whatever the corpus; merge cost is |groups|×64.
    "q_hll" -> ((s, dir) =>
      hllFinish(
        hllRows(t(s, dir, "orders"))
          .groupBy("grp", "reg").agg(max("rho").as("mj")),
        t(s, dir, "orders"))),

    "q_mad" -> ((s, dir) => madQuery(s, dir))
  )

  /** Day-of-week seasonal readout over a (day, tot_cents) daily-grain
    * relation — q_seasonal's math, shared with the streaming monitor
    * (st_seasonal) whose standing daily cells feed it. Weekday is
    * day % 7 (integer — no calendar arithmetic), the baseline a 7-row
    * aggregate broadcast back, ratios in integer ppm; every window
    * and join runs at the |days| grain, never over the fact rows.
    * Pass a MATERIALIZED relation — it is scanned twice. */
  private[graft] def seasonalReadout(daily0: DataFrame): DataFrame = {
    val daily = daily0.withColumn("dow", expr("day % 7"))
    val base = daily.groupBy("dow")
      .agg(expr("""CAST((1000000 * CAST(sum(tot_cents) AS DECIMAL(38,0)))
        div count(*) AS BIGINT)""").as("base_micro"))
    daily.join(broadcast(base), "dow")
      .select(col("day"), col("dow").cast("int").as("dow"),
        col("tot_cents"), col("base_micro"),
        expr("""CAST((1000000000000 * CAST(tot_cents AS DECIMAL(38,0)))
          div base_micro AS BIGINT)""").as("ratio_ppm"))
      .orderBy("day")
  }

  /** MAD robust-outlier screen — the heavy-tail-safe sibling of
    * q_outliers' IQR fences (mean/std are useless under the spend
    * skew; median/MAD are 50%-breakdown robust): per-user purchase
    * cents, the median attached by one broadcast (scalar-attach), the
    * median absolute deviation by a SECOND single-row broadcast over
    * the deviations, then an exact flag count above the 5·MAD fence.
    * Two bounded two-pass medians (BoundedPercentile — the distinct
    * per-user totals never buffer in one aggregate node) + two one-row
    * broadcasts — never a sort, never a rank — so the chain survives
    * any corpus size; the same rounded-percentile contract as every
    * quantile op here. The second median runs over DOUBLED deviations
    * (adev is a half-integer: |long − median|, median interpolates at
    * .5) so the helper's long-domain contract holds exactly; halving
    * the doubled median back is exact in binary. */
  private def madQuery(s: SparkSession, dir: String): DataFrame = {
    // the per-user aggregate feeds BOTH medians and the final readout
    // (5-6 scans before this materialization — the r10 2.6× regression);
    // dev likewise feeds the second median twice plus the readout
    val spend = graft.operators.BoundedPercentile.memoInput(
      t(s, dir, "events").filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(floor(sum(col("value").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents")),
      "q")
    val med = graft.operators.BoundedPercentile.fences(spend,
      Seq.empty, "cents",
      Seq(graft.operators.BoundedPercentile.Spec("med", 1, 2)),
      width = 1L << 16)
    val dev = graft.operators.BoundedPercentile.memoInput(
      spend.join(broadcast(med))
        .withColumn("adev", abs(col("cents") - col("med"))),
      "q")
    val mad = graft.operators.BoundedPercentile.fences(
        dev.withColumn("adev2", (col("adev") * 2).cast("long")),
        Seq.empty, "adev2",
        Seq(graft.operators.BoundedPercentile.Spec("mad2", 1, 2)),
        width = 1L << 16)
      .select(round(col("mad2") / 2, 4).as("mad"))
    dev.join(broadcast(mad))
      .agg(count(lit(1)).as("n_users"),
        max("med").as("med"), max("mad").as("mad"),
        sum(when(col("adev") > col("mad") * 5, 1L).otherwise(0L))
          .as("n_out"),
        max(when(col("adev") > col("mad") * 5, col("cents")))
          .as("max_out_cents"))
  }

  /** Poisson(1) CDF floored to ppm, k = 0..7 (weights cap at 8 — the
    * tail past P(≤7) is under 1e-5). ONE literal table feeds the
    * Column tree and the oracle SQL (the benfordPpm discipline), so
    * no in-query exp/factorial can drift cross-engine. */
  private[graft] val poissonCdfPpm: Seq[Long] =
    Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L, 999916L,
      999989L)
  private[graft] val BootstrapB = 32 // q_bootstrap replicates

  /** q_hll estimate numerator α_64·m²·2^43 = 0.709·4096·2^43 scaled by
    * the α denominator 1000 — exactly 709·4096·8796093022208. ONE
    * literal feeds both engines (the benfordPpm discipline); the
    * divisor carries the 1000. */
  private[graft] val HllNum = BigInt("25544417086445453312")

  /** Per-row HLL observation of an orders frame: (grp = priority,
    * reg = 48-bit keyed md5 % 64, rho = leading-zero rank of the
    * 42-bit remainder via a CASE chain — no clz/log builtin drift).
    * Shared by the batch sketch (q_hll) and its streaming register
    * maintenance (st_hll), so both sketch THE same observation. */
  private[graft] def hllRows(orders: DataFrame): DataFrame = {
    val h = graft.functions.Determinism.md5IdxK(
      concat(lit("hll#"), col("o_custkey").cast("string")), 12)
    // rho: rest ≥ 2^41 → 1, …, rest ≥ 1 → 42, rest = 0 → 43
    val rho = (1 to 42).reverse
      .foldLeft(lit(43): org.apache.spark.sql.Column) { case (acc, k) =>
        when(col("rest") >= (1L << (42 - k)), k).otherwise(acc) }
    orders.select(col("o_orderpriority").as("grp"), col("o_custkey"))
      .withColumn("h", h)
      .select(col("grp"), expr("CAST(h % 64 AS INT)").as("reg"),
        expr("h div 64").as("rest"))
      .select(col("grp"), col("reg"), rho.as("rho"))
  }

  /** HLL readout over a (grp, reg, mj) register relation: adds the
    * max-merged 'ALL' row, folds each group's registers into the
    * harmonic sum S = Σ 2^(43−M_j) (empty registers contribute 2^43),
    * divides the shared α·m²·2^43 literal once, and prices the
    * estimate against the exact distinct count from `orders`. */
  private[graft] def hllFinish(perGrp: DataFrame,
      orders: DataFrame): DataFrame = {
    val merged = perGrp.groupBy("reg").agg(max("mj").as("mj"))
      .select(lit("ALL").as("grp"), col("reg"), col("mj"))
    val agg = perGrp.unionByName(merged).groupBy("grp").agg(
      (lit(64) - count(lit(1))).cast("int").as("v_zero"),
      (sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(43 - mj AS INT))"))
        + (lit(64L) - count(lit(1))) * lit(8796093022208L)).as("s_reg"))
    val byGrp = orders
      .select(col("o_orderpriority").as("grp"), col("o_custkey"))
    val exact = byGrp.groupBy("grp")
      .agg(countDistinct("o_custkey").as("exact_d"))
      .unionByName(byGrp.agg(countDistinct("o_custkey").as("exact_d"))
        .select(lit("ALL").as("grp"), col("exact_d")))
    agg.join(exact, "grp") // ≤ |groups|+1 rows each side
      .select(col("grp"), col("v_zero"), col("s_reg"),
        expr(s"""CAST(CAST('$HllNum' AS DECIMAL(38,0))
          div (1000 * s_reg) AS BIGINT)""").as("est"), col("exact_d"))
      .select(col("grp"), col("v_zero"), col("s_reg"), col("est"),
        col("exact_d"),
        expr("""CAST((1000000 * CAST(abs(est - exact_d) AS DECIMAL(38,0)))
          div exact_d AS BIGINT)""").as("err_ppm"))
      .orderBy("grp")
  }


  // ---- shared basket relations (round 14) ------------------------------
  // q_basket_pairs and q_basket_triples consumed the SAME per-order
  // brand relation, the same per-order pair rows and the same >=3
  // pair-support aggregate, each rebuilding them per query (and the
  // triples entry ran the order self-join twice: once for support, once
  // for extension). Named family memos, the d/x/s convention: built
  // once per (session, corpus), eager-checkpointed (truncated plans),
  // released with the "q" scope at family end.
  private def qFrame(s: SparkSession, name: String)(df: DataFrame): DataFrame =
    graft.CacheBook.keep(s, "q")(
      graft.CacheBook.recordBuildPlan(s, "q", name)(df).localCheckpoint(true))

  /** Sorted distinct brand dictionary (round 15): the brand domain is
    * dimension-bounded (25 values in TPC-H at ANY corpus scale), so the
    * heavy basket relations carry a 4-byte dictionary POSITION instead
    * of the brand string (guide §2.3 narrower types: the pair/triple
    * shuffles and the basket arrays halve), and every comparison /
    * sort on positions equals the string comparison because the
    * dictionary is sorted. Readouts decode via element_at on the same
    * literal. One tiny distinct per (session, corpus), q-scoped. */
  private def brandDict(s: SparkSession, dir: String): Array[String] =
    graft.CacheBook.memo(s, "q", "q:brand_dict", dir) {
      t(s, dir, "part").select("p_brand").distinct().orderBy("p_brand")
        .collect().map(_.getString(0))
    }
  /** Decode a 1-based dictionary position column back to the brand. */
  private def brandOf(s: SparkSession, dir: String)(bid: org.apache.spark.sql.Column) =
    element_at(lit(brandDict(s, dir)), bid)

  /** Per-order SORTED DISTINCT brand array — the basket relation in
    * array form (round 14 OPT): one shuffle to the order grain with
    * the dedup inside the aggregate, where the old shape paid a
    * (o, brand)-keyed distinct exchange AND THEN a second order-keyed
    * self-join exchange to enumerate pairs. Probe A/B at sf0.1 (cpu-s):
    * distinct 3.3 + self-join 7.1 vs array-build 2.3 + in-row pair
    * expansion 3.0 — the pair volume is identical (same 984k rows),
    * only the exchange/SMJ machinery is gone. Per-order arrays are
    * basket-bounded, so the row width is bounded at any corpus scale.
    * Round 15: elements are dictionary POSITIONS ([[brandDict]]) —
    * int sort order == string sort order on the sorted dictionary. */
  private def basketObArr(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "q", "q:basket_ob_arr", dir)(qFrame(s, "q:basket_ob_arr") {
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"),
          array_position(lit(brandDict(s, dir)), col("p_brand"))
            .cast("int").as("brand"))
        .groupBy("o").agg(sort_array(array_distinct(collect_list("brand"))).as("bs"))
    })

  /** Distinct (order, brand-position) rows — the exploded view of
    * [[basketObArr]] (same multiset as the old distinct: per-order
    * arrays are distinct and sorted). */
  private def basketOb: (SparkSession, String) => DataFrame =
    (s, dir) => basketObArr(s, dir).select(col("o"), explode(col("bs")).as("brand"))

  /** Per-order brand pair rows (o, ba, bb), ba < bb — in-row pair
    * expansion over the sorted array (row-for-row the multiset the old
    * order self-join produced: element i pairs with every later
    * element, and the array is sorted distinct so ba < bb). Round 15:
    * two Generate stages (posexplode + slice-explode), all native
    * codegen expressions — the former nested transform() lambdas
    * evaluated interpreted per row (guide §4.1). */
  private def basketPairRows(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "q", "q:basket_pair_rows", dir)(qFrame(s, "q:basket_pair_rows") {
      basketObArr(s, dir)
        .select(col("o"), col("bs"), posexplode(col("bs")).as(Seq("i", "ba")))
        .select(col("o"), col("ba"),
          explode(expr("slice(bs, i + 2, size(bs))")).as("bb"))
    })

  /** Frequent pairs: (ba, bb, sup) at the >=3 support bar. */
  private def basketPairSup(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "q", "q:basket_sup", dir)(qFrame(s, "q:basket_sup") {
      basketPairRows(s, dir).groupBy("ba", "bb").agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 3)
    })

  /** q_basket_triples' counting stage: per-order pair rows prefix-
    * pruned against the broadcast candidate set, extended by the third
    * basket item, candidate-semi-joined again, then counted with the
    * ≥3 support bar. */
  private def t3From(ob: DataFrame, pairsAll: DataFrame,
      cand: DataFrame): DataFrame =
    pairsAll
      .join(broadcast(cand.select(col("ca").as("ba"), col("cb").as("bb"))
        .distinct()), Seq("ba", "bb"), "left_semi")
      .as("xy")
      .join(ob.as("z"),
        col("xy.o") === col("z.o") && col("xy.bb") < col("z.brand"))
      .select(col("xy.ba").as("ba"), col("xy.bb").as("bb"),
        col("z.brand").as("bc"))
      .join(broadcast(cand.select(col("ca").as("ba"), col("cb").as("bb"),
        col("cc").as("bc"))), Seq("ba", "bb", "bc"), "left_semi")
      .groupBy("ba", "bb", "bc").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 3)

  /** q_theilsen's positivity shift: keeps slope numerators positive so
    * Spark `div` (truncate) == DuckDB `//` (floor). Sized to 4e18 —
    * big enough that 1e6·|Δrev| stays under it for daily totals up to
    * $40B/day, small enough that the shifted quotient (≈ shift) still
    * fits the BIGINT that Spark's `div` returns. */
  private[graft] val TheilShift = BigInt("4000000000000000000")

  /** Benford expectations round(log10(1+1/d)·1e6), d = 1..9 — they sum
    * to exactly 1e6. ONE table feeds the Column tree and the oracle
    * SQL, so the two engines cannot drift. */
  private[graft] val benfordPpm: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L,
      45757L)

  private val rev = "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))"

  val oracleSql: Map[String, String] = Map(
    "q_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_quantity > 45
         ORDER BY l_orderkey, l_linenumber, l_quantity""",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-31'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    // plain-join oracle: the bloom probe is a pruning aid and must not
    // change results
    "q_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q3_join" ->
      s"""SELECT l_orderkey, o_orderdate, CAST($rev AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1999-06-30'
           AND l_shipdate > TIMESTAMP '1999-06-30'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",

    "q5_join" ->
      s"""SELECT n_name, CAST($rev AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",

    "q_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey""",

    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS d_part,
           count(DISTINCT l_suppkey) AS d_supp, true AS approx_ok
         FROM lineitem""",

    "q_window_rank" ->
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
         FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q_window_lead_lag" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate AS ship,
           lag(l_shipdate) OVER w AS prev_ship,
           lead(l_shipdate) OVER w AS next_ship,
           CAST(ntile(4) OVER w AS INT) AS quartile
         FROM lineitem WHERE l_orderkey % 100 = 0
         WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_shipdate)
         ORDER BY l_orderkey, l_linenumber, ship""",

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q_pivot" ->
      """SELECT o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS "F",
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS "O",
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS "P"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           AND o_orderdate < TIMESTAMP '1996-01-01')
         ORDER BY c_custkey""",

    "q_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 450000)
         ORDER BY c_custkey""",

    "q_set_ops" ->
      """SELECT p, 'both' AS src FROM
           (SELECT l_partkey AS p FROM lineitem
            INTERSECT SELECT p_partkey FROM part WHERE p_size >= 40)
         UNION ALL
         SELECT p, 'unsold' AS src FROM
           (SELECT p_partkey AS p FROM part WHERE p_size >= 40
            EXCEPT SELECT l_partkey FROM lineitem)
         ORDER BY src, p""",

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "q_exprs" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN 'open'
                WHEN o_orderstatus = 'F' THEN 'finished'
                ELSE 'pending' END AS status_word,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
           upper(substr(o_orderpriority, 3)) AS prio_word,
           CAST(length(o_orderpriority) AS INT) AS prio_len,
           (o_orderstatus || '/' || replace(o_orderpriority, '-', '_')) AS tag,
           CAST(floor(o_totalprice / 50000) AS INT) AS price_bucket
         FROM orders ORDER BY o_orderkey""",

    "q_percentile" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_asof" ->
      """SELECT p.event_id, p.user_id, p.ts,
           (SELECT e.event_id FROM events e WHERE e.user_id = p.user_id
              AND e.event_type = 'error' AND e.ts < p.ts
            ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS prior_event_id,
           (SELECT e.ts FROM events e WHERE e.user_id = p.user_id
              AND e.event_type = 'error' AND e.ts < p.ts
            ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS prior_ts
         FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""",

    // latest-within-window == latest-overall-if-within-window: all
    // earlier errors are older still, so both formulations agree.
    "q_asof_tolerance" ->
      """SELECT p.event_id, p.user_id,
           (SELECT e.event_id FROM events e WHERE e.user_id = p.user_id
              AND e.event_type = 'error' AND e.ts < p.ts
              AND e.ts >= p.ts - INTERVAL 2 HOUR
            ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS prior_event_id
         FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""",

    "q_event_dedup" ->
      """WITH g AS (SELECT event_type,
           epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
             PARTITION BY user_id, event_type
             ORDER BY epoch_us(ts), event_id) AS gap
         FROM events)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 5000000
             THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
         FROM g GROUP BY event_type ORDER BY event_type""",

    "q_decay" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS mxus FROM events)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)
             * (CAST(1 AS BIGINT) << CAST(15 - least(
                 (mxus - epoch_us(ts)) // 86400000000, 15) AS INT)))
             AS BIGINT) AS score_units
         FROM events, mx GROUP BY user_id ORDER BY user_id""",

    "q_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
         f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id)
         SELECT cohort_week, (wk - cohort_week) AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
         FROM e JOIN f USING (user_id)
         GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",

    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2 FROM events e
           JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) > v.t1
           WHERE e.event_type = 'click' GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3 FROM events e
           JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) > c.t2
           WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS users FROM v
         UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
         UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
         ORDER BY step""",

    "q_sessionize" ->
      s"""WITH ${sqlSessionCtes()}
         SELECT user_id, session_idx, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
         FROM sess GROUP BY user_id, session_idx ORDER BY user_id, session_idx""",

    "q_sessionize_sweep" ->
      """WITH d AS (SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts) AS delta
           FROM events),
         f AS (SELECT d.delta, g.gap_seconds
           FROM d, unnest([CAST(600 AS BIGINT), 1800, 3600]) AS g(gap_seconds)),
         a AS (SELECT CAST(gap_seconds AS BIGINT) AS gap_seconds,
             CAST(sum(CASE WHEN delta IS NULL
               OR delta > gap_seconds * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions,
             count(*) AS n_events
           FROM f GROUP BY gap_seconds)
         SELECT gap_seconds, n_sessions,
           CAST(n_events * 1000000 // n_sessions AS BIGINT)
             AS events_per_session_micro
         FROM a ORDER BY gap_seconds""",

    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 4 * (SELECT max(l_extendedprice) FROM lineitem)
         ORDER BY o_orderkey""",

    "q_skew_join" ->
      """SELECT s_name, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_name ORDER BY s_name""",

    "q_range_join" ->
      """SELECT tier, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN (VALUES ('low', 0, 100000), ('mid', 100000, 300000),
           ('high', 300000, 600000)) AS tiers(tier, lo, hi)
         ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY tier ORDER BY tier""",

    "q_approx_quantile" ->
      """SELECT l_returnflag, true AS median_ok, true AS p90_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_unpivot" ->
      """SELECT o_orderpriority, o_orderstatus AS status,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
         GROUP BY o_orderpriority, o_orderstatus
         ORDER BY o_orderpriority, status""",

    "q_json" ->
      """SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           count(*) AS n,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_dq_profile" -> {
      def one(c: String, mn: String, mx: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
            CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
            count(DISTINCT $c) AS n_distinct, $mn AS min_v, $mx AS max_v
            FROM orders"""
      def num(c: String) =
        one(c, s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
      def str(c: String) = one(c, s"min($c)", s"max($c)")
      def ts(c: String) =
        one(c, s"strftime(min($c), '%Y-%m-%d')", s"strftime(max($c), '%Y-%m-%d')")
      Seq(num("o_orderkey"), num("o_custkey"), str("o_orderstatus"),
        str("o_orderpriority"), ts("o_orderdate"))
        .mkString("", " UNION ALL ", " ORDER BY col_name")
    },

    // one-shot oracle: incremental maintenance must be invisible in the
    // result
    "q_inc_agg" ->
      """SELECT o_custkey, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    "q_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             CAST(floor(value * 1000000.0) AS BIGINT) AS vmic FROM events),
         obs AS (SELECT user_id, day, sum(vmic) AS dmic FROM e GROUP BY user_id, day),
         span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
           FROM obs GROUP BY user_id),
         cal AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM span)
         SELECT cal.user_id, cal.day, obs.dmic IS NULL AS is_gap,
           last_value(obs.dmic IGNORE NULLS) OVER (PARTITION BY cal.user_id
             ORDER BY cal.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1000000.0
             AS value_locf
         FROM cal LEFT JOIN obs
           ON cal.user_id = obs.user_id AND cal.day = obs.day
         ORDER BY cal.user_id, cal.day""",

    "q_window_range" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS dmic,
             count(*) AS n_ev
           FROM events GROUP BY user_id, day)
         SELECT user_id, day, dmic / 1000000.0 AS day_value,
           sum(dmic) OVER w / 1000000.0 AS roll7_value,
           CAST(sum(n_ev) OVER w AS BIGINT) AS roll7_events
         FROM daily
         WINDOW w AS (PARTITION BY user_id ORDER BY day
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, day""",

    "q_linreg" ->
      """WITH li AS (SELECT l_returnflag, l_linestatus,
             CAST(floor(l_quantity * 100) AS HUGEINT) AS xi,
             CAST(floor(l_extendedprice * 100) AS HUGEINT) AS yi
           FROM lineitem),
         g AS (SELECT l_returnflag, l_linestatus,
             CAST(count(*) AS HUGEINT) AS nn,
             sum(xi) AS sx, sum(yi) AS sy, sum(xi * yi) AS sxy,
             sum(xi * xi) AS sxx, sum(yi * yi) AS syy
           FROM li GROUP BY l_returnflag, l_linestatus)
         SELECT l_returnflag, l_linestatus, CAST(nn AS BIGINT) AS n,
           CAST((1000000 * (nn * sxy - sx * sy))
             // (nn * sxx - sx * sx) AS BIGINT) AS slope_micro,
           CAST((1000000 * (sy * sxx - sx * sxy)
             + 10000000000000 * (nn * sxx - sx * sx))
             // (nn * sxx - sx * sx) - 10000000000000 AS BIGINT) AS icept_micro,
           CAST((CAST((1000000 * (nn * sxy - sx * sy))
             // (nn * sxx - sx * sx) AS HUGEINT) * (nn * sxy - sx * sy))
             // (nn * syy - sy * sy) AS BIGINT) AS r2_micro
         FROM g ORDER BY l_returnflag, l_linestatus""",

    "q_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM p
           WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY from_type)
         SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
           CAST((1000000 * CAST(c.n AS HUGEINT)) // t.tot AS BIGINT) AS p_micro
         FROM c JOIN t USING (from_type)
         ORDER BY from_type, to_type""",

    "q_outliers" ->
      """WITH s AS (SELECT o_custkey,
             CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
               AS BIGINT) AS cents
           FROM orders GROUP BY o_custkey),
         j AS (SELECT r.r_name, s.cents FROM s
           JOIN customer c ON c.c_custkey = s.o_custkey
           JOIN nation n ON n.n_nationkey = c.c_nationkey
           JOIN region r ON r.r_regionkey = n.n_regionkey),
         f AS (SELECT r_name, count(*) AS n_customers,
             round(quantile_cont(cents, 0.25), 4) AS q1,
             round(quantile_cont(cents, 0.75), 4) AS q3
           FROM j GROUP BY r_name),
         ff AS (SELECT r_name, n_customers,
             q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi FROM f)
         SELECT j.r_name, CAST(ff.n_customers AS BIGINT) AS n_customers,
           ff.lo, ff.hi,
           CAST(sum(CASE WHEN j.cents < ff.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(sum(CASE WHEN j.cents > ff.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           max(CASE WHEN j.cents > ff.hi THEN j.cents END) AS max_out_cents
         FROM j JOIN ff USING (r_name)
         GROUP BY j.r_name, ff.n_customers, ff.lo, ff.hi
         ORDER BY j.r_name""",

    "q_scd2" ->
      """WITH dim AS (SELECT user_id, ts AS valid_from,
             row_number() OVER w AS version, lead(ts) OVER w AS valid_to
           FROM events WHERE event_type = 'signup'
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         f AS (SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase')
         SELECT d.user_id, d.version, d.valid_from,
           d.valid_to IS NULL AS is_current,
           count(f.ts) AS n_purch,
           coalesce(CAST(sum(CAST(f.value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
             AS sum_value
         FROM dim d LEFT JOIN f ON f.user_id = d.user_id
           AND f.ts >= d.valid_from
           AND (d.valid_to IS NULL OR f.ts < d.valid_to)
         GROUP BY d.user_id, d.version, d.valid_from, d.valid_to
         ORDER BY d.user_id, d.version""",

    "q_zorder" -> {
      val morton = (0 until 8).map(i =>
        s"(((gx >> $i) & 1) << ${2 * i + 1}) + (((gy >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""WITH b AS (SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
             min(l_suppkey) AS mins, max(l_suppkey) AS maxs FROM lineitem),
         g AS (SELECT
             CAST(((l_partkey - minp) * 256) // (maxp - minp + 1) AS INT) AS gx,
             CAST(((l_suppkey - mins) * 256) // (maxs - mins + 1) AS INT) AS gy
           FROM lineitem, b),
         z AS (SELECT gx, gy, ($morton) AS m FROM g)
         SELECT CAST(m >> 8 AS INT) AS zblock, count(*) AS n_rows,
           min(gx) AS gx_min, max(gx) AS gx_max,
           min(gy) AS gy_min, max(gy) AS gy_max,
           CAST((max(gx) - min(gx) + 1) * (max(gy) - min(gy) + 1) AS BIGINT)
             AS bbox_area
         FROM z GROUP BY zblock ORDER BY zblock"""
    },

    "q_abtest" ->
      s"""WITH pu AS (SELECT user_id,
             CAST(floor(sum(CAST(value AS DECIMAL(18,2))) * 100) AS BIGINT)
               AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         a AS (SELECT CAST((${graft.functions.Determinism.sqlMd5Idx(
               "'ab#' || CAST(user_id AS VARCHAR)")} % 2) AS INT) AS arm,
             cents FROM pu),
         m AS (SELECT
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN arm = 0 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s0,
             sum(CASE WHEN arm = 1 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s1,
             sum(CASE WHEN arm = 0 THEN CAST(cents AS HUGEINT) * cents
               ELSE 0 END) AS q0,
             sum(CASE WHEN arm = 1 THEN CAST(cents AS HUGEINT) * cents
               ELSE 0 END) AS q1
           FROM a),
         m2 AS (SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(s0 AS BIGINT) AS s0_cents, CAST(s1 AS BIGINT) AS s1_cents,
           CAST((1000000 * s0) // n0 AS BIGINT) AS mean0_micro,
           CAST((1000000 * s1) // n1 AS BIGINT) AS mean1_micro,
           CAST((n0 * q0 - s0 * s0) // (n0 * n0) AS BIGINT)
             AS var0_cents2,
           CAST((n1 * q1 - s1 * s1) // (n1 * n1) AS BIGINT)
             AS var1_cents2,
           CAST((1000000 * (s1 * n0 - s0 * n1)) // (n1 * n0) AS BIGINT)
             AS lift_micro
         FROM m)
         SELECT *, CAST((CAST(lift_micro AS HUGEINT) * lift_micro)
             // ((1000000 * CAST(var1_cents2 AS HUGEINT)) // n1
               + (1000000 * CAST(var0_cents2 AS HUGEINT)) // n0)
             AS BIGINT) AS z2_micro
         FROM m2""",

    "q_chisq" ->
      """WITH o AS (SELECT lang, source, count(*) AS obs
           FROM documents GROUP BY lang, source),
         w AS (SELECT lang, source, obs,
             sum(obs) OVER (PARTITION BY lang) AS rt,
             sum(obs) OVER (PARTITION BY source) AS ct,
             sum(obs) OVER () AS nn
           FROM o),
         wd AS (SELECT *, (CAST(obs AS HUGEINT) * nn
             - CAST(rt AS HUGEINT) * ct) // nn AS dev FROM w),
         c AS (SELECT lang, source, CAST(obs AS BIGINT) AS obs,
             CAST((1000000 * CAST(rt AS HUGEINT) * ct) // nn AS BIGINT)
               AS exp_micro,
             CAST((1000000 * dev * dev * nn)
               // (CAST(rt AS HUGEINT) * ct) AS BIGINT) AS contrib_micro
           FROM wd)
         SELECT lang, source, obs, exp_micro, contrib_micro,
           CAST(sum(contrib_micro) OVER () AS BIGINT) AS chi2_micro
         FROM c ORDER BY lang, source""",

    "q_equidepth" -> {
      // list-form quantile_cont — ONE value-multiset buffer, mirroring
      // the Spark side's array-percentile contract (9 scalar aggregates
      // are the 9x-state shape its comment forbids)
      val bs = (1 to 9).map(k => s"round(qc[$k], 4) AS b$k").mkString(", ")
      val qlist = (1 to 9).map(k => s"0.$k").mkString(", ")
      val bin = (1 to 9).map(k =>
        s"CASE WHEN cents > b$k THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH c AS (SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))
             * 100) AS BIGINT) AS cents FROM orders),
         b AS (SELECT $bs FROM
           (SELECT quantile_cont(cents, [$qlist]) AS qc FROM c))
         SELECT CAST(($bin + 1) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS min_cents, max(cents) AS max_cents
         FROM c, b GROUP BY 1 ORDER BY bin"""
    },

    "q_paths" -> {
      val pivots = (1 to 5).map(k =>
        s"max(CASE WHEN rn = $k THEN event_type END)").mkString(", ")
      s"""WITH ${sqlSessionCtes(", event_type")},
         fir AS (SELECT user_id, session_idx, event_type,
             row_number() OVER (PARTITION BY user_id, session_idx
               ORDER BY ts, event_id) AS rn
           FROM sess),
         p AS (SELECT user_id, session_idx, concat_ws('>', $pivots) AS path
           FROM fir WHERE rn <= 5 GROUP BY user_id, session_idx)
         SELECT path, count(*) AS n_sessions FROM p GROUP BY path
         ORDER BY n_sessions DESC, path LIMIT 20"""
    },

    "q_benford" -> {
      val benfordCase = benfordPpm.zipWithIndex
        .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
      s"""WITH c AS (SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))
             * 100) AS BIGINT) AS cents FROM orders),
         d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT)
             AS digit FROM c WHERE cents >= 1),
         g AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY digit)
         SELECT digit, CAST(n_orders AS BIGINT) AS n_orders,
           CAST((1000000 * CAST(n_orders AS HUGEINT))
             // sum(n_orders) OVER () AS BIGINT) AS obs_ppm,
           CAST(CASE digit $benfordCase END AS BIGINT) AS benford_ppm,
           CAST((1000000 * CAST(n_orders AS HUGEINT))
             // sum(n_orders) OVER () AS BIGINT)
             - CAST(CASE digit $benfordCase END AS BIGINT) AS dev_ppm
         FROM g ORDER BY digit"""
    },

    "q_pareto" ->
      """WITH s AS (SELECT o_custkey,
             CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
               AS BIGINT) AS cents
           FROM orders GROUP BY o_custkey),
         f AS (SELECT round(quantile_cont(cents, 0.9), 4) AS p90,
             round(quantile_cont(cents, 0.99), 4) AS p99 FROM s)
         SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN cents > p90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n90,
           CAST(sum(CASE WHEN cents > p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS n99,
           CAST((1000000 * sum(CASE WHEN cents > p90
             THEN CAST(cents AS HUGEINT) ELSE 0 END)) // sum(cents)
             AS BIGINT) AS top10_share_ppm,
           CAST((1000000 * sum(CASE WHEN cents > p99
             THEN CAST(cents AS HUGEINT) ELSE 0 END)) // sum(cents)
             AS BIGINT) AS top1_share_ppm
         FROM s, f""",

    "q_cov" -> {
      val shift = "1000000000000"
      def covSql(sab: String, sa: String, sb: String, name: String) =
        s"""CAST((n * $sab - $sa * $sb + $shift * n * n) // (n * n)
           - $shift AS BIGINT) AS $name"""
      s"""WITH m AS (SELECT l_returnflag,
             CAST(floor(CAST(l_quantity AS DECIMAL(18,2)) * 1000) AS BIGINT) AS x,
             CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y,
             CAST(floor(CAST(l_discount AS DECIMAL(8,4)) * 10000) AS BIGINT) AS z
           FROM lineitem),
         a AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(z AS HUGEINT)) AS sz,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(z AS HUGEINT) * z) AS szz,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * z) AS sxz,
             sum(CAST(y AS HUGEINT) * z) AS syz
           FROM m GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ${covSql("sxx", "sx", "sx", "var_x")},
           ${covSql("syy", "sy", "sy", "var_y")},
           ${covSql("szz", "sz", "sz", "var_z")},
           ${covSql("sxy", "sx", "sy", "cov_xy")},
           ${covSql("sxz", "sx", "sz", "cov_xz")},
           ${covSql("syz", "sy", "sz", "cov_yz")}
         FROM a ORDER BY l_returnflag"""
    },

    "q_cusum" ->
      """WITH d AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT)) AS tot_cents
           FROM orders GROUP BY 1),
         g AS (SELECT sum(tot_cents) AS s, count(*) AS ndays FROM d),
         c AS (SELECT day, CAST(tot_cents AS BIGINT) AS tot_cents,
             CAST(sum(tot_cents - (s // ndays)) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cusum_cents
           FROM d, g)
         SELECT day, tot_cents, cusum_cents,
           CAST(CASE WHEN abs(cusum_cents) = max(abs(cusum_cents)) OVER ()
             THEN 1 ELSE 0 END AS INT) AS is_changepoint
         FROM c ORDER BY day""",

    "q_seasonal" ->
      """WITH d AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT)) AS tot_cents
           FROM orders GROUP BY 1),
         b AS (SELECT day % 7 AS dow,
             CAST((1000000 * sum(tot_cents)) // count(*) AS BIGINT)
               AS base_micro
           FROM d GROUP BY 1)
         SELECT day, CAST(d.day % 7 AS INT) AS dow,
           CAST(tot_cents AS BIGINT) AS tot_cents, base_micro,
           CAST((1000000000000 * CAST(tot_cents AS HUGEINT)) // base_micro
             AS BIGINT) AS ratio_ppm
         FROM d JOIN b ON d.day % 7 = b.dow ORDER BY day""",

    "q_small_qty" ->
      """WITH li AS (SELECT l_partkey,
             CAST(floor(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS qty,
             CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
               AS BIGINT) AS cents
           FROM lineitem),
         a AS (SELECT l_partkey,
             CAST((1000000 * sum(CAST(qty AS HUGEINT))) // count(*)
               AS BIGINT) AS avg_micro
           FROM li GROUP BY l_partkey)
         SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM li JOIN a USING (l_partkey)
         JOIN part ON l_partkey = p_partkey
         WHERE qty * 5000000 < avg_micro
         GROUP BY p_brand ORDER BY p_brand""",

    "q_attribution" ->
      """WITH p AS (SELECT event_id, user_id, ts,
             CAST(floor(CAST(value AS DECIMAL(18,6)) * 1000000) AS BIGINT)
               AS vmicro
           FROM events WHERE event_type = 'purchase'),
         pri AS (SELECT p.*,
             (SELECT e.event_id FROM events e WHERE e.user_id = p.user_id
                AND e.event_type = 'click' AND e.ts < p.ts
                AND e.ts >= p.ts - INTERVAL 7 DAY
              ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS prior_event_id,
             (SELECT e.ts FROM events e WHERE e.user_id = p.user_id
                AND e.event_type = 'click' AND e.ts < p.ts
                AND e.ts >= p.ts - INTERVAL 7 DAY
              ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS prior_ts
           FROM p),
         b AS (SELECT CASE WHEN prior_event_id IS NULL THEN '4_organic'
             WHEN epoch_us(ts) - epoch_us(prior_ts) <= 3600000000
               THEN '1_hour'
             WHEN epoch_us(ts) - epoch_us(prior_ts) <= 86400000000
               THEN '2_day'
             ELSE '3_week' END AS bucket, vmicro FROM pri)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(vmicro) AS BIGINT) AS sum_value_micro
         FROM b GROUP BY bucket ORDER BY bucket""",

    "q_rfm" -> {
      def qsql(vcol: String, pfx: String) =
        s"""$pfx AS (SELECT ${(1 to 4).map(k =>
            s"round(q[$k],4) AS $pfx$k").mkString(", ")}
           FROM (SELECT quantile_cont($vcol, [0.2,0.4,0.6,0.8]) AS q
             FROM per))"""
      def ssql(vcol: String, pfx: String) =
        s"(1 + ${(1 to 4).map(k =>
          s"CASE WHEN $vcol > $pfx$k THEN 1 ELSE 0 END").mkString(" + ")})"
      s"""WITH mx AS (SELECT max(epoch_us(o_orderdate)) AS mxus FROM orders),
         per AS (SELECT o_custkey,
             (mxus - max(epoch_us(o_orderdate))) // 86400000000 AS rec_days,
             count(*) AS freq,
             CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
               AS BIGINT) AS m_cents
           FROM orders, mx GROUP BY o_custkey, mxus),
         ${qsql("rec_days", "rb")},
         ${qsql("freq", "fb")},
         ${qsql("m_cents", "mb")},
         sc AS (SELECT m_cents,
             6 - ${ssql("rec_days", "rb")} AS r_score,
             ${ssql("freq", "fb")} AS f_score,
             ${ssql("m_cents", "mb")} AS m_score
           FROM per, rb, fb, mb)
         SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST((1000000 * sum(CAST(m_cents AS HUGEINT))) // count(*)
             AS BIGINT) AS avg_monetary_micro
         FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
    },

    "q_funnel_sweep" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS et
           FROM events),
         v AS (SELECT user_id, min(et) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY 1),
         ws AS (SELECT unnest([3600000000, 86400000000, 604800000000])
           AS w),
         c AS (SELECT e.user_id, ws.w, min(et) AS t2
           FROM e JOIN v USING (user_id), ws
           WHERE event_type = 'click' AND et > t1 AND et <= t1 + w
           GROUP BY 1, 2),
         p AS (SELECT e.user_id, c.w, min(et) AS t3
           FROM e JOIN c ON c.user_id = e.user_id
           WHERE event_type = 'purchase' AND et > t2 AND et <= t2 + c.w
           GROUP BY 1, 2)
         SELECT CAST(w AS BIGINT) AS window_us,
           (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           CAST((SELECT count(*) FROM c WHERE c.w = ws.w) AS BIGINT)
             AS n_click,
           CAST((SELECT count(*) FROM p WHERE p.w = ws.w) AS BIGINT)
             AS n_purchase
         FROM ws ORDER BY window_us""",

    "q_skew_audit" ->
      """WITH c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
           FROM lineitem GROUP BY l_suppkey),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             sum(CAST(cnt AS HUGEINT)) AS tot FROM c)
         SELECT l_suppkey, cnt, n_keys,
           CAST((1000000 * CAST(cnt AS HUGEINT) * n_keys) // tot
             AS BIGINT) AS ratio_to_mean_ppm,
           CAST(CASE WHEN (1000000 * CAST(cnt AS HUGEINT) * n_keys) // tot
             > 10000000 THEN 1 ELSE 0 END AS INT) AS is_hot
         FROM c, g ORDER BY cnt DESC, l_suppkey LIMIT 10""",

    "q_mad" ->
      """WITH s AS (SELECT user_id,
             CAST(floor(sum(CAST(value AS DECIMAL(18,2))) * 100) AS BIGINT)
               AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         m AS (SELECT round(quantile_cont(cents, 0.5), 4) AS med FROM s),
         d AS (SELECT cents, med, abs(cents - med) AS adev FROM s, m),
         md AS (SELECT round(quantile_cont(adev, 0.5), 4) AS mad FROM d)
         SELECT CAST(count(*) AS BIGINT) AS n_users,
           max(med) AS med, max(mad) AS mad,
           CAST(sum(CASE WHEN adev > mad * 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out,
           max(CASE WHEN adev > mad * 5 THEN cents END) AS max_out_cents
         FROM d, md""",

    "q_basket_pairs" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS brand
             FROM lineitem JOIN part ON l_partkey = p_partkey),
         n AS (SELECT count(DISTINCT o) AS n_orders FROM ob),
         bc AS (SELECT brand, count(*) AS cnt FROM ob GROUP BY brand),
         pr AS (SELECT x.brand AS brand_a, y.brand AS brand_b,
             count(*) AS support
           FROM ob x JOIN ob y ON x.o = y.o AND x.brand < y.brand
           GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT brand_a, brand_b, CAST(support AS BIGINT) AS support,
           CAST((1000000 * support) // ca.cnt AS BIGINT) AS conf_ppm,
           CAST((1000000 * CAST(support AS HUGEINT) * n_orders)
             // (CAST(ca.cnt AS HUGEINT) * cb.cnt) AS BIGINT) AS lift_ppm
         FROM pr JOIN bc ca ON ca.brand = brand_a
           JOIN bc cb ON cb.brand = brand_b, n
         ORDER BY brand_a, brand_b""",

    "q_gini" ->
      """WITH per AS (SELECT c_mktsegment AS seg, o_custkey,
             CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
               AS BIGINT) AS cents
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         r AS (SELECT seg, cents,
             row_number() OVER (PARTITION BY seg ORDER BY cents, o_custkey)
               AS i
           FROM per)
         SELECT seg, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST((1000000 * (2 * sum(CAST(i AS HUGEINT) * cents)
               - (count(*) + 1) * sum(CAST(cents AS HUGEINT))))
             // (count(*) * sum(CAST(cents AS HUGEINT))) AS BIGINT)
             AS gini_ppm
         FROM r GROUP BY seg ORDER BY seg""",

    "q_acf" ->
      """WITH d AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT)) AS x
           FROM orders GROUP BY 1),
         g AS (SELECT count(*) AS n, sum(x) AS s FROM d),
         v AS (SELECT day, x - CAST(s // n AS BIGINT) AS dev FROM d, g),
         dn AS (SELECT sum(CAST(dev AS HUGEINT) * dev) AS den FROM v),
         l AS (SELECT lag FROM range(1, 8) t(lag)),
         p AS (SELECT l.lag, count(*) AS n_pairs,
             sum(CAST(a.dev AS HUGEINT) * b.dev) AS num
           FROM l CROSS JOIN v a JOIN v b ON b.day = a.day + l.lag
           GROUP BY l.lag)
         SELECT CAST(lag AS INT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST((1000000 * num + 2000000 * den) // den - 2000000 AS BIGINT)
             AS acf_ppm
         FROM p, dn ORDER BY lag""",

    "q_mwu" ->
      """WITH p AS (SELECT
             CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT) AS cents,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END AS arm
           FROM orders),
         r AS (SELECT cents, count(*) AS c, sum(arm) AS ca,
             sum(count(*)) OVER (ORDER BY cents) - count(*) AS r0
           FROM p GROUP BY cents),
         a AS (SELECT sum(ca) AS n_a, sum(c - ca) AS n_b,
             sum(CAST(ca AS HUGEINT) * (2 * r0 + c + 1)) AS r2a FROM r)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2,
           CAST((1000000 * (r2a - n_a * (n_a + 1))) // (2 * n_a * n_b)
             AS BIGINT) AS cles_ppm,
           CAST(2 * ((1000000 * (r2a - n_a * (n_a + 1)))
             // (2 * n_a * n_b)) - 1000000 AS BIGINT) AS rb_ppm
         FROM a""",

    "q_kendall" ->
      """WITH d AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT)) AS rev,
             count(*) AS cnt
           FROM orders GROUP BY 1),
         p AS (SELECT (CASE WHEN a.rev > b.rev THEN 1
               WHEN a.rev < b.rev THEN -1 ELSE 0 END)
             * (CASE WHEN a.cnt > b.cnt THEN 1
               WHEN a.cnt < b.cnt THEN -1 ELSE 0 END) AS s
           FROM d a JOIN d b ON a.day < b.day)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant,
           CAST((1000000 * (CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
               AS HUGEINT) - sum(CASE WHEN s = -1 THEN 1 ELSE 0 END))
             + 2000000 * CAST(count(*) AS HUGEINT)) // count(*)
             - 2000000 AS BIGINT) AS tau_ppm
         FROM p""",

    "q_bootstrap" -> {
      val u = graft.functions.Determinism.sqlMd5Idx(
        "'bs#' || CAST(b AS VARCHAR) || '#' || CAST(o_orderkey AS VARCHAR)")
      val cases = poissonCdfPpm.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
      s"""WITH o AS (SELECT o_orderkey,
             CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT) AS cents
           FROM orders),
         f AS (SELECT o_orderkey, cents, b FROM o, range(0, $BootstrapB) t(b)),
         wv AS (SELECT b, cents,
             (CASE $cases ELSE ${poissonCdfPpm.size} END) AS w
           FROM (SELECT b, cents, ($u % 1000000) AS u FROM f)),
         a AS (SELECT b, sum(w) AS n_eff,
             sum(CAST(w AS HUGEINT) * cents) AS swx
           FROM wv GROUP BY b)
         SELECT CAST(b AS INT) AS b, CAST(n_eff AS BIGINT) AS n_eff,
           CAST((1000000 * swx) // n_eff AS BIGINT) AS mean_micro
         FROM a ORDER BY b"""
    },

    "q_runs" ->
      """WITH d AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT)) AS rev
           FROM orders GROUP BY 1),
         m AS (SELECT rev AS med FROM (
             SELECT rev, row_number() OVER (ORDER BY rev, day) AS rn,
               count(*) OVER () AS nd FROM d)
           WHERE rn = (nd + 1) // 2),
         sg AS (SELECT day,
             CASE WHEN rev > med THEN 1 ELSE 0 END AS s FROM d, m),
         ch AS (SELECT s, CASE
             WHEN lag(s) OVER (ORDER BY day) IS NULL THEN 1
             WHEN lag(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS chg
           FROM sg)
         SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(s) AS BIGINT) AS n_above,
           CAST(count(*) - sum(s) AS BIGINT) AS n_below,
           CAST(sum(chg) AS BIGINT) AS runs,
           CAST((2000000 * sum(s) * (count(*) - sum(s))) // count(*)
             + 1000000 AS BIGINT) AS expected_ppm
         FROM ch""",

    "q_ks" ->
      """WITH p AS (SELECT
             CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT) AS cents,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END AS arm
           FROM orders),
         t AS (SELECT sum(arm) AS n_a, count(*) - sum(arm) AS n_b FROM p),
         r AS (SELECT cents,
             sum(sum(arm)) OVER (ORDER BY cents) AS cum_a,
             sum(count(*) - sum(arm)) OVER (ORDER BY cents) AS cum_b
           FROM p GROUP BY cents),
         d AS (SELECT cents, n_a, n_b,
             abs((1000000 * cum_a) // n_a
               - (1000000 * cum_b) // n_b) AS d_ppm
           FROM r, t)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(d_ppm AS BIGINT) AS d_ppm, cents AS at_cents
         FROM d ORDER BY d_ppm DESC, cents LIMIT 1""",

    "q_trimmed" ->
      """WITH p AS (SELECT o_orderpriority AS grp,
             CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT) AS cents
           FROM orders),
         t AS (SELECT grp, count(*) AS n, count(*) // 10 AS k
           FROM p GROUP BY grp),
         r AS (SELECT grp, cents, count(*) AS c,
             sum(count(*)) OVER (PARTITION BY grp ORDER BY cents)
               - count(*) AS r0
           FROM p GROUP BY grp, cents),
         kx AS (SELECT r.grp, cents, c, r0, n, k,
             greatest(0, least(r0 + c, n - k) - greatest(r0, k)) AS kept
           FROM r JOIN t USING (grp))
         SELECT grp, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_trim,
           CAST((1000000 * sum(CAST(cents AS HUGEINT) * c)) // n
             AS BIGINT) AS mean_micro,
           CAST((1000000 * sum(CAST(cents AS HUGEINT) * kept))
             // (n - 2 * k) AS BIGINT) AS trimmed_micro
         FROM kx GROUP BY grp, n, k ORDER BY grp""",

    "q_basket_triples" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS brand
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         pr AS (SELECT x.o, x.brand AS ba, y.brand AS bb
           FROM ob x JOIN ob y ON x.o = y.o AND x.brand < y.brand),
         f2 AS (SELECT ba, bb, count(*) AS sup FROM pr
           GROUP BY ba, bb HAVING count(*) >= 3),
         cand AS (SELECT p.ba AS ca, p.bb AS cb, q.bb AS cc
           FROM f2 p JOIN f2 q ON p.ba = q.ba AND p.bb < q.bb
           WHERE EXISTS (SELECT 1 FROM f2 r
             WHERE r.ba = p.bb AND r.bb = q.bb)),
         t3 AS (SELECT pr.ba, pr.bb, z.brand AS bc
           FROM pr JOIN ob z ON pr.o = z.o AND pr.bb < z.brand
           WHERE EXISTS (SELECT 1 FROM cand c
             WHERE c.ca = pr.ba AND c.cb = pr.bb AND c.cc = z.brand)),
         sup3 AS (SELECT ba, bb, bc, count(*) AS support FROM t3
           GROUP BY ba, bb, bc HAVING count(*) >= 3)
         SELECT ba AS brand_a, bb AS brand_b, bc AS brand_c,
           CAST(support AS BIGINT) AS support,
           CAST((1000000 * support) // sup AS BIGINT) AS conf_ppm
         FROM sup3 JOIN f2 USING (ba, bb)
         ORDER BY brand_a, brand_b, brand_c""",

    "q_theilsen" ->
      s"""WITH d AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
               AS BIGINT)) AS rev
           FROM orders GROUP BY 1),
         p AS (SELECT a.day AS da, b.day AS db,
             CAST((1000000 * (CAST(b.rev AS HUGEINT) - a.rev)
               + CAST('$TheilShift' AS HUGEINT) * (b.day - a.day))
               // (b.day - a.day)
               - CAST('$TheilShift' AS HUGEINT) AS BIGINT) AS slope
           FROM d a JOIN d b ON a.day < b.day),
         r AS (SELECT slope, row_number() OVER (ORDER BY slope, da, db) AS rn,
             count(*) OVER () AS np FROM p),
         m AS (SELECT slope AS slope_micro, np AS n_pairs FROM r
           WHERE rn = (np + 1) // 2),
         res AS (SELECT d.day,
             CAST(1000000 AS HUGEINT) * d.rev
               - CAST(m.slope_micro AS HUGEINT) * d.day AS resid
           FROM d, m),
         r2 AS (SELECT day, resid,
             row_number() OVER (ORDER BY resid, day) AS rn,
             count(*) OVER () AS nd FROM res),
         i AS (SELECT CAST(resid AS BIGINT) AS intercept_micro, nd AS n_days
           FROM r2 WHERE rn = (nd + 1) // 2)
         SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(n_pairs AS BIGINT) AS n_pairs, slope_micro, intercept_micro
         FROM m, i""",

    "q_hll" -> {
      val h = graft.functions.Determinism.sqlMd5IdxK(
        "'hll#' || CAST(o_custkey AS VARCHAR)", 12)
      val rho = (1 to 42)
        .map(k => s"WHEN rest >= ${1L << (42 - k)} THEN $k").mkString(" ")
      s"""WITH b AS (SELECT grp, (h % 64) AS reg, (h // 64) AS rest
           FROM (SELECT o_orderpriority AS grp, ($h) AS h FROM orders)),
         r AS (SELECT grp, reg, max(CASE $rho ELSE 43 END) AS mj
           FROM b GROUP BY grp, reg),
         rall AS (SELECT 'ALL' AS grp, reg, max(mj) AS mj FROM r GROUP BY reg),
         agg AS (SELECT grp, CAST(64 - count(*) AS INT) AS v_zero,
             (sum(1::BIGINT << CAST(43 - mj AS INT))
              + (64 - count(*)) * 8796093022208) AS s_reg
           FROM (SELECT grp, reg, mj FROM r
                 UNION ALL SELECT grp, reg, mj FROM rall) GROUP BY grp),
         ex AS (SELECT o_orderpriority AS grp,
               count(DISTINCT o_custkey) AS exact_d FROM orders GROUP BY 1
             UNION ALL
             SELECT 'ALL', count(DISTINCT o_custkey) FROM orders),
         e AS (SELECT a.grp, v_zero, CAST(s_reg AS BIGINT) AS s_reg,
             CAST(CAST('$HllNum' AS HUGEINT) // (1000 * s_reg) AS BIGINT)
               AS est, CAST(exact_d AS BIGINT) AS exact_d
           FROM agg a JOIN ex USING (grp))
         SELECT grp, v_zero, s_reg, est, exact_d,
           CAST((1000000::HUGEINT * abs(est - exact_d)) // exact_d
             AS BIGINT) AS err_ppm
         FROM e ORDER BY grp"""
    }
  )
}
