package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{SliceRoot, Slicer}
import graft.plans.SchemaGraph

/** Pack A — core slicing queries (reference semantics: slice_db/dump.py
  * discovery + slice_db/dump_memory.py `next`). Every query here is a
  * full BFS-to-fixpoint slice over the TPC-H FK graph; the oracle SQL is
  * the unrolled chain of semi-joins, which equals the fixpoint because
  * the configured reference directions make the walk acyclic.
  */
object SliceQueries {

  private def slicer(s: SparkSession, dir: String, g: SchemaGraph = SchemaGraph.tpch) =
    new Slicer(g, t => Tables.load(s, dir, t))

  /** The shared "customer root" slice used by several queries. */
  private val custRoots = Seq(SliceRoot("customer", "c_custkey % 50 = 7"))

  /** Five queries read the same customer-root slice; discovery runs once
    * per (session, dir) and the persisted key sets are shared (the keys
    * are already cached DataFrames, so this memo only avoids re-running
    * the BFS actions, it holds no row data). The Slicer's key frames are
    * kept under "slice" on this thread, so they attach to the memo: a
    * release frees them WITH the SliceResult that wraps them. */
  private def custSlice(s: SparkSession, dir: String): graft.operators.SliceResult =
    graft.CacheBook.memo(s, "slice", "cust_slice", dir)(slicer(s, dir).run(custRoots))
  // DuckDB mirrors of each hop of the custRoots discovery
  private val custSql = "SELECT c_custkey FROM customer WHERE c_custkey % 50 = 7"
  private val ordSql  = s"SELECT o_orderkey FROM orders WHERE o_custkey IN ($custSql)"
  private val liSql   = s"SELECT * FROM lineitem WHERE l_orderkey IN ($ordSql)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Forward-only: orders roots pull their customers (and nation/region);
    // returns the sliced customer rows.
    "slice_fwd_orders" -> ((s, dir) =>
      slicer(s, dir, SchemaGraph.tpchForward)
        .run(Seq(SliceRoot("orders", "o_orderkey % 100 < 2")))
        .rows("customer").orderBy("c_custkey")),

    // HASH-SAMPLED slice — the most common production use of the
    // reference ("give me a consistent N% of prod"): roots are a
    // deterministic md5 draw over the root key (the reference does
    // this with a WHERE on the root; the sample is stable across
    // re-runs and across row additions — a key's membership never
    // changes), and the FK walk pulls each sampled customer's FULL
    // transactional closure, so the sample is referentially
    // consistent, not a per-table row sample (the thing naive
    // TABLESAMPLE gets wrong). Returns the sampled cohort's orders.
    "slice_sample_orders" -> ((s, dir) =>
      slicer(s, dir)
        .run(Seq(SliceRoot("customer",
          "substring(md5(cast(c_custkey as string)), 1, 1) = '0'")))
        .rows("orders").orderBy("o_orderkey")),

    // Reverse refs: customer roots pull their orders, orders their
    // lineitems; returns the sliced lineitem rows.
    "slice_rev_lineitem" -> ((s, dir) =>
      custSlice(s, dir)
        .rows("lineitem").orderBy("l_orderkey", "l_linenumber")),

    // Multi-hop to fixpoint: the same slice reaches part via lineitem.
    "slice_full_part" -> ((s, dir) =>
      custSlice(s, dir).rows("part").orderBy("p_partkey")),

    // ... and nation via BOTH customer and supplier forward refs.
    "slice_full_nation" -> ((s, dir) =>
      custSlice(s, dir).rows("nation").orderBy("n_nationkey")),

    // Two roots on different tables; discovery unions into one key set.
    "slice_multiroot_customer" -> ((s, dir) =>
      slicer(s, dir, SchemaGraph.tpchForward)
        .run(Seq(
          SliceRoot("customer", "c_acctbal > 9000"),
          SliceRoot("orders", "o_totalprice > 400000")))
        .rows("customer").orderBy("c_custkey")),

    // Incremental: extend the completed customer slice with a SECOND
    // customer cohort; the BFS walks only the delta but the result
    // equals a from-scratch slice over both cohorts (the oracle is the
    // union-of-roots semi-join chain).
    "slice_incremental" -> ((s, dir) =>
      slicer(s, dir)
        .extend(custSlice(s, dir), Seq(SliceRoot("customer", "c_custkey % 50 = 19")))
        .rows("orders").orderBy("o_orderkey")),

    "slice_manifest" -> ((s, dir) =>
      custSlice(s, dir).manifest.orderBy("table_id")),

    // slice + scrub composed END-TO-END — the reference's core use case
    // (dump a subset WITH transforms applied during COPY-out,
    // slice_db/dump.py + transforms/*): the discovered customer rows
    // flow through the deterministic name scrub and acctbal nulling in
    // one declarative plan, oracle-verified as a whole.
    "slice_scrub_customer" -> ((s, dir) => {
      import graft.functions.Transforms._
      custSlice(s, dir).rows("customer").select(
          col("c_custkey"),
          concat(givenName(col("c_name")), lit(" "), surname(col("c_name"))).as("name"),
          nul.as("acctbal"),
          const("SEGMENT").as("mktsegment"))
        .orderBy("c_custkey")
    }),

    "slice_sequences" -> ((s, dir) =>
      custSlice(s, dir).sequences.orderBy("table_id")),

    // Driver-side toposort of the FK graph (tiny metadata — no executor
    // data involved); emitted as a DataFrame for the gate.
    "restore_order" -> ((s, dir) => {
      val rows = SchemaGraph.tpch.restoreOrder.zipWithIndex.map {
        case ((t, deferred), i) => (i, t, deferred)
      }
      s.createDataFrame(rows).toDF("pos", "table_id", "deferred").orderBy("pos")
    }),

    // SLICE DIFF — the release-comparison op between two slice scopes
    // (what a team reviews before swapping a staging dataset for the
    // previous one): both discoveries walk the same FK graph, then
    // each table's DISTINCT key sets full-outer join into
    // added/removed/shared counts. Roots here are disjoint customer
    // cohorts, so the fact tables diverge completely while the shared
    // dimensions (nation/region/part/supplier) overlap — exactly the
    // shape a real scope change produces. Per table cost is one
    // key-set join; the A side reuses the memoized customer slice.
    // The two discoveries are INDEPENDENT (disjoint root cohorts, no
    // shared mutable state), so they run CONCURRENTLY as two
    // graft.Par tasks under the refcounted narrow profile (round 14:
    // each is round-latency bound at width 8, so overlapping them
    // back-fills the idle cores); the diff readout then
    // materializes under the same profile, one narrow action instead of
    // ~30 width-32 AQE query stages over key sets of ≤12k rows.
    "slice_diff" -> ((s, dir) => {
      val Seq(a, b) = graft.Par.each(Seq(
          () => custSlice(s, dir),
          () => slicer(s, dir).run(Seq(SliceRoot("customer", "c_custkey % 50 = 23")))))(
        _())
      val g = SchemaGraph.tpch
      val frames = g.tables.map(_.id).sorted.map { t =>
        val kc = g.table(t).key
        def keySet(r: graft.operators.SliceResult) = r.keys.get(t)
          .map(_.select(kc.map(col): _*).distinct())
          .getOrElse(Tables.load(s, dir, t).select(kc.map(col): _*).limit(0))
        keySet(a).withColumn("ia", lit(1))
          .join(keySet(b).withColumn("ib", lit(1)), kc, "full_outer")
          .agg(
            // count(col), not sum(when): a table empty in BOTH scopes
            // joins to zero rows and sum() would emit NULL where the
            // oracle's count(*) says 0.
            count(col("ia")).as("n_a"),
            count(col("ib")).as("n_b"),
            count(when(col("ia").isNotNull && col("ib").isNotNull, 1L))
              .as("n_common"))
          .select(lit(t).as("table_id"), col("n_a"), col("n_b"),
            col("n_common"),
            (col("n_a") - col("n_common")).as("n_only_a"),
            (col("n_b") - col("n_common")).as("n_only_b"))
      }
      // one |tables|-row readout: materialize it under the narrow
      // profile (the caller's action would otherwise re-plan the 9 join
      // subtrees at session width)
      val out = graft.CacheBook.keep(s, "slice")(graft.Profiles.narrow(s) {
        frames.reduce(_ unionByName _).localCheckpoint(true)
      })
      out.orderBy("table_id")
    }),

    // FK REFERENTIAL-INTEGRITY audit — the pre-slice data-quality
    // gate: per FK edge of the schema graph, total child rows, legal
    // NULL FKs, and ORPHANS (non-null FK with no parent key). A
    // database with dangling FKs produces a slice that will not
    // restore; this says so before any dump runs. One anti-join per
    // edge, co-partitioned on the FK at scale; the oracle SQL is
    // GENERATED from the same SchemaGraph object, so the two engines
    // cannot audit different schemas.
    "slice_fk_audit" -> ((s, dir) =>
      graft.operators.FkAudit.run(SchemaGraph.tpch,
        t => Tables.load(s, dir, t)))
  )

  val oracleSql: Map[String, String] = Map(
    "slice_fk_audit" ->
      graft.operators.FkAudit.oracleSql(SchemaGraph.tpch),
    "slice_fwd_orders" ->
      s"""SELECT * FROM customer WHERE c_custkey IN
         (SELECT o_custkey FROM orders WHERE o_orderkey % 100 < 2)
         ORDER BY c_custkey""",

    "slice_sample_orders" ->
      s"""SELECT * FROM orders WHERE o_custkey IN
         (SELECT c_custkey FROM customer
          WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0')
         ORDER BY o_orderkey""",

    "slice_rev_lineitem" -> s"$liSql ORDER BY l_orderkey, l_linenumber",

    "slice_full_part" ->
      s"""SELECT * FROM part WHERE p_partkey IN
         (SELECT l_partkey FROM ($liSql)) ORDER BY p_partkey""",

    "slice_full_nation" ->
      s"""SELECT * FROM nation WHERE n_nationkey IN
           (SELECT c_nationkey FROM customer WHERE c_custkey IN ($custSql))
         OR n_nationkey IN
           (SELECT s_nationkey FROM supplier WHERE s_suppkey IN
             (SELECT l_suppkey FROM ($liSql)))
         ORDER BY n_nationkey""",

    "slice_multiroot_customer" ->
      s"""SELECT * FROM customer WHERE c_acctbal > 9000
         OR c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
         ORDER BY c_custkey""",

    "slice_incremental" ->
      s"""SELECT * FROM orders WHERE o_custkey IN ($custSql)
         OR o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 50 = 19)
         ORDER BY o_orderkey""",

    "slice_scrub_customer" -> {
      import graft.functions.Transforms.{sqlGivenName, sqlSurname}
      s"""SELECT c_custkey,
          (${sqlGivenName("c_name")} || ' ' || ${sqlSurname("c_name")}) AS name,
          CAST(NULL AS VARCHAR) AS acctbal, 'SEGMENT' AS mktsegment
          FROM customer WHERE c_custkey IN ($custSql) ORDER BY c_custkey"""
    },

    "slice_manifest" -> {
      val counts = Seq(
        "customer" -> s"SELECT count(*) FROM ($custSql)",
        "lineitem" -> s"SELECT count(*) FROM ($liSql)",
        "nation" -> s"""SELECT count(*) FROM nation WHERE n_nationkey IN
            (SELECT c_nationkey FROM customer WHERE c_custkey IN ($custSql))
          OR n_nationkey IN (SELECT s_nationkey FROM supplier WHERE s_suppkey IN
            (SELECT l_suppkey FROM ($liSql)))""",
        "orders" -> s"SELECT count(*) FROM ($ordSql)",
        "part" -> s"SELECT count(distinct l_partkey) FROM ($liSql)",
        "region" -> s"""SELECT count(distinct n_regionkey) FROM nation WHERE n_nationkey IN
            (SELECT c_nationkey FROM customer WHERE c_custkey IN ($custSql))
          OR n_nationkey IN (SELECT s_nationkey FROM supplier WHERE s_suppkey IN
            (SELECT l_suppkey FROM ($liSql)))""",
        "supplier" -> s"SELECT count(distinct l_suppkey) FROM ($liSql)")
      counts.map { case (t, c) =>
        s"SELECT '$t' AS table_id, CAST(($c) AS BIGINT) AS row_count"
      }.mkString("", " UNION ALL ", " ORDER BY table_id")
    },

    "slice_sequences" -> {
      val maxes = Seq(
        "customer" -> s"SELECT max(c_custkey) FROM ($custSql)",
        "lineitem" -> s"SELECT max(l_orderkey) FROM ($liSql)",
        "nation" -> s"""SELECT max(n_nationkey) FROM nation WHERE n_nationkey IN
            (SELECT c_nationkey FROM customer WHERE c_custkey IN ($custSql))
          OR n_nationkey IN (SELECT s_nationkey FROM supplier WHERE s_suppkey IN
            (SELECT l_suppkey FROM ($liSql)))""",
        "orders" -> s"SELECT max(o_orderkey) FROM ($ordSql)",
        "part" -> s"SELECT max(l_partkey) FROM ($liSql)",
        "region" -> s"""SELECT max(n_regionkey) FROM nation WHERE n_nationkey IN
            (SELECT c_nationkey FROM customer WHERE c_custkey IN ($custSql))
          OR n_nationkey IN (SELECT s_nationkey FROM supplier WHERE s_suppkey IN
            (SELECT l_suppkey FROM ($liSql)))""",
        "supplier" -> s"SELECT max(l_suppkey) FROM ($liSql)")
      maxes.map { case (t, m) =>
        s"SELECT '$t' AS table_id, CAST(($m) AS BIGINT) AS last_value"
      }.mkString("", " UNION ALL ", " ORDER BY table_id")
    },

    "restore_order" ->
      """SELECT * FROM (VALUES
        (0, 'part', false), (1, 'region', false), (2, 'nation', false),
        (3, 'customer', false), (4, 'supplier', false), (5, 'orders', false),
        (6, 'lineitem', false)) AS t(pos, table_id, deferred) ORDER BY pos""",

    "slice_diff" -> {
      // per-scope closure key sets (mirrors the slice_manifest closure,
      // DISTINCT because the diff compares key SETS)
      def clos(tag: String, cond: String): Seq[(String, String)] = {
        val c = s"SELECT c_custkey FROM customer WHERE $cond"
        val o = s"SELECT o_orderkey FROM orders WHERE o_custkey IN ($c)"
        val li = s"SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey IN ($o)"
        val natPred =
          s"""n_nationkey IN (SELECT c_nationkey FROM customer
               WHERE c_custkey IN ($c))
             OR n_nationkey IN (SELECT s_nationkey FROM supplier
               WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem
                 WHERE l_orderkey IN ($o)))"""
        Seq(
          s"${tag}_customer" -> c,
          s"${tag}_lineitem" -> s"SELECT DISTINCT * FROM ($li)",
          s"${tag}_nation" -> s"SELECT n_nationkey FROM nation WHERE $natPred",
          s"${tag}_orders" -> o,
          s"${tag}_part" -> s"SELECT DISTINCT l_partkey FROM lineitem WHERE l_orderkey IN ($o)",
          s"${tag}_region" -> s"SELECT DISTINCT n_regionkey FROM nation WHERE $natPred",
          s"${tag}_supplier" -> s"SELECT DISTINCT l_suppkey FROM lineitem WHERE l_orderkey IN ($o)")
      }
      val ctes = (clos("a", "c_custkey % 50 = 7") ++ clos("b", "c_custkey % 50 = 23"))
        .map { case (n, q) => s"$n AS MATERIALIZED ($q)" }.mkString(",\n")
      val rows = Seq("customer", "lineitem", "nation", "orders", "part",
        "region", "supplier").map { t =>
        s"""SELECT '$t' AS table_id,
           CAST((SELECT count(*) FROM a_$t) AS BIGINT) AS n_a,
           CAST((SELECT count(*) FROM b_$t) AS BIGINT) AS n_b,
           CAST((SELECT count(*) FROM (SELECT * FROM a_$t
             INTERSECT SELECT * FROM b_$t)) AS BIGINT) AS n_common,
           CAST((SELECT count(*) FROM a_$t) - (SELECT count(*) FROM
             (SELECT * FROM a_$t INTERSECT SELECT * FROM b_$t))
             AS BIGINT) AS n_only_a,
           CAST((SELECT count(*) FROM b_$t) - (SELECT count(*) FROM
             (SELECT * FROM a_$t INTERSECT SELECT * FROM b_$t))
             AS BIGINT) AS n_only_b"""
      }.mkString(" UNION ALL ")
      s"WITH $ctes\n$rows ORDER BY table_id"
    }
  )
}
