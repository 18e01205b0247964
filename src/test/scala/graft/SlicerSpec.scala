package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{SliceRoot, Slicer}
import graft.plans.{Reference, SchemaGraph, TableDef}

class SlicerSpec extends SparkSpec {
  import spark.implicits._

  // parent <- child; grandchild references child
  private val graph = SchemaGraph(
    tables = Seq(
      TableDef("parent", Seq("pid")),
      TableDef("child", Seq("cid")),
      TableDef("grandchild", Seq("gid"))),
    references = Seq(
      Reference("c_p", "child", Seq("pid"), "parent", Seq("pid")),
      Reference("g_c", "grandchild", Seq("cid"), "child", Seq("cid"))))

  private val tables: Map[String, DataFrame] = Map(
    "parent" -> Seq((1, "a"), (2, "b"), (3, "c")).toDF("pid", "name"),
    "child" -> Seq((10, 1), (11, 1), (12, 2)).toDF("cid", "pid"),
    "grandchild" -> Seq((100, 10), (101, 12)).toDF("gid", "cid"))

  private def slicer(g: SchemaGraph = graph) = new Slicer(g, tables(_))

  /** broadcastKeyLimit settings that exercise both key-set homes: 0 keeps
    * every frame distributed, 2 holds the first rows of a table on the
    * driver and spreads the rest, the default holds everything here. */
  private val Limits = Seq(0L, 2L, 1000000L)

  /** Key values as the naive closure compares them: integral widened to
    * long (an int FK names the same row as a bigint key). */
  private def norm(v: Any): Any = v match {
    case i: Int   => i.toLong
    case s: Short => s.toLong
    case b: Byte  => b.toLong
    case x        => x
  }

  /** Naive driver-side fixpoint over collected rows: starting from the
    * root rows, add every row a forward reference's values name and
    * every row whose FK a reverse reference's values match, until
    * nothing changes. Returns each reached table's key tuples. */
  private def naiveClosure(g: SchemaGraph, data: Map[String, DataFrame],
      root: String, pick: Row => Boolean): Map[String, Set[Seq[Any]]] = {
    val rows = data.map { case (t, df) => t -> df.collect().toSeq }
    def vals(r: Row, cols: Seq[String]): Seq[Any] = cols.map(c => norm(r.get(r.fieldIndex(c))))
    def reach(from: Set[Row], cols: Seq[String], to: String, toCols: Seq[String]): Set[Row] = {
      val vs = from.map(vals(_, cols)).filterNot(_.contains(null))
      rows(to).filter(r => vs(vals(r, toCols))).toSet
    }
    var keep = rows.map { case (t, rs) => t -> (if (t == root) rs.filter(pick).toSet else Set.empty[Row]) }
    var changed = true
    while (changed) {
      val next = g.references.foldLeft(keep) { (k, ref) =>
        val fwd = if (ref.forward) reach(k(ref.table), ref.columns, ref.refTable, ref.refColumns)
          else Set.empty[Row]
        val rev = if (ref.reverse) reach(k(ref.refTable), ref.refColumns, ref.table, ref.columns)
          else Set.empty[Row]
        k.updated(ref.refTable, k(ref.refTable) ++ fwd).updated(ref.table, k(ref.table) ++ rev)
      }
      changed = next != keep
      keep = next
    }
    keep.collect { case (t, rs) if rs.nonEmpty => t -> rs.map(vals(_, g.table(t).key)) }
  }

  /** The Slicer at every limit reaches exactly the naive closure, with
    * its key counts and its maxes (first key column cast to long). */
  private def assertNaive(g: SchemaGraph, data: Map[String, DataFrame],
      root: SliceRoot, pick: Row => Boolean): Unit = {
    val want = naiveClosure(g, data, root.table, pick)
    for (limit <- Limits) {
      val r = new Slicer(g, data(_), limit).run(Seq(root))
      val got = r.keys.map { case (t, k) => t -> k.collect().map(_.toSeq.map(norm)).toSet }
      assert(got == want, s"limit $limit: keys")
      assert(r.keyCounts.filter(_._2 > 0) == want.map { case (t, ks) => t -> ks.size.toLong },
        s"limit $limit: counts")
      val maxes = want.map { case (t, ks) => t -> ks.map(_.head match {
        case s: String => s.trim.toLong
        case v         => v.asInstanceOf[Long]
      }).max }
      assert(r.keyMaxes == maxes, s"limit $limit: maxes")
    }
  }

  test("forward slice pulls parents only") {
    val fwd = graph.copy(references = graph.references.map(_.copy(reverse = false)))
    val r = new Slicer(fwd, tables(_)).run(Seq(SliceRoot("child", "cid = 10")))
    assert(r.rows("parent").as[(Int, String)].collect().toSet == Set((1, "a")))
    assert(r.keys.get("grandchild").isEmpty)
  }

  test("reverse slice pulls children transitively to fixpoint") {
    val r = slicer().run(Seq(SliceRoot("parent", "pid = 1")))
    assert(r.rows("child").select("cid").as[Int].collect().toSet == Set(10, 11))
    assert(r.rows("grandchild").select("gid").as[Int].collect().toSet == Set(100))
  }

  test("multi-root discovery unions and dedups") {
    val r = slicer().run(Seq(
      SliceRoot("parent", "pid = 1"), SliceRoot("parent", "pid = 2")))
    assert(r.rows("child").select("cid").as[Int].collect().toSet == Set(10, 11, 12))
    assert(r.rows("grandchild").select("gid").as[Int].collect().toSet == Set(100, 101))
  }

  test("extend reaches exactly what a from-scratch union slice reaches") {
    val s = slicer()
    val incremental = s.extend(
      s.run(Seq(SliceRoot("parent", "pid = 1"))),
      Seq(SliceRoot("parent", "pid = 2")))
    val scratch = s.run(Seq(
      SliceRoot("parent", "pid = 1"), SliceRoot("parent", "pid = 2")))
    Seq("parent", "child", "grandchild").foreach { t =>
      assert(incremental.rows(t).collect().toSet == scratch.rows(t).collect().toSet, t)
      assert(incremental.keyCounts(t) == scratch.keyCounts(t), s"$t counts")
    }
    // seeds fully covered by the prior slice are a no-op extension
    val noop = s.extend(scratch, Seq(SliceRoot("parent", "pid = 1")))
    assert(noop.keyCounts == scratch.keyCounts)
  }

  test("deep chain BFS crosses the generation-compaction threshold") {
    // 12-table chain: t0 references t1 references ... t11 (forward
    // refs), so a root at t0 walks 11 rounds — past compactEvery=8
    val n = 12
    val chainGraph = SchemaGraph(
      tables = (0 until n).map(i => TableDef(s"t$i", Seq("id"))),
      references = (0 until n - 1).map(i =>
        Reference(s"r$i", s"t$i", Seq("nxt"), s"t${i + 1}", Seq("id"), reverse = false)))
    val chainTables: Map[String, DataFrame] = (0 until n).map { i =>
      s"t$i" -> Seq((i, i + 1)).toDF("id", "nxt")
    }.toMap
    for (limit <- Limits) {
      val r = new Slicer(chainGraph, chainTables(_), limit).run(Seq(SliceRoot("t0", "id = 0")))
      assert(r.keys.keySet == (0 until n).map(i => s"t$i").toSet, s"limit $limit")
      (0 until n).foreach { i =>
        assert(r.rows(s"t$i").select("id").as[Int].collect().toSeq == Seq(i), s"t$i limit $limit")
      }
    }
  }

  test("manifest counts rows per reached table") {
    val m = slicer().run(Seq(SliceRoot("parent", "pid = 2"))).manifest
      .as[(String, Long)].collect().toMap
    assert(m == Map("parent" -> 1L, "child" -> 1L, "grandchild" -> 1L))
  }

  test("self-referencing FK (employee -> manager) walks chains and survives cycles") {
    // the reference's pg schemas routinely self-reference; the walk must
    // chain through the same table across rounds, drop NULL FK values,
    // and terminate on a 2-cycle via the anti-join
    val g = SchemaGraph(
      tables = Seq(TableDef("emp", Seq("id"))),
      references = Seq(
        Reference("mgr", "emp", Seq("mgr_id"), "emp", Seq("id"), reverse = false)))
    val emp = Seq(
      (1, Option.empty[Int]), (2, Some(1)), (3, Some(2)), // chain 3 -> 2 -> 1
      (4, Some(5)), (5, Some(4)),                         // 2-cycle 4 <-> 5
      (6, Option.empty[Int]))
      .toDF("id", "mgr_id")
    val s = new Slicer(g, Map("emp" -> emp)(_))
    val chain = s.run(Seq(SliceRoot("emp", "id = 3")))
    assert(chain.rows("emp").select("id").as[Int].collect().toSet == Set(1, 2, 3))
    assert(chain.keyCounts("emp") == 3L)
    val cyc = s.run(Seq(SliceRoot("emp", "id = 4")))
    assert(cyc.rows("emp").select("id").as[Int].collect().toSet == Set(4, 5))
  }

  test("SPARK_GRAFT_SLICE_TRUST_FK=false validates forward FKs against the scan") {
    // dangling FK: child row points at parent 99, which does not exist.
    // Trust mode (default, enforced-FK sources) takes the FK value as a
    // discovered key — manifest over-reports; validate mode scans and
    // drops the phantom.
    val fwd = graph.copy(references = graph.references.map(_.copy(reverse = false)))
    val broken = tables + ("child" ->
      Seq((10, 1), (11, 99)).toDF("cid", "pid"))
    def keysOf(): Set[Int] =
      new Slicer(fwd, broken(_)).run(Seq(SliceRoot("child", "cid >= 0")))
        .keys("parent").select("pid").as[Int].collect().toSet
    assert(keysOf() == Set(1, 99), "trust mode reports the phantom key")
    System.setProperty("graft.slice.distrustForwardKeys", "true")
    try assert(keysOf() == Set(1), "validate mode drops the phantom key")
    finally System.clearProperty("graft.slice.distrustForwardKeys")
  }

  test("reverse refs onto a PK-keyed child NEVER take the no-scan shortcut") {
    // 1:1 optional extension table keyed by the parent's key: integrity
    // guarantees child FK -> parent, NOT that every parent row has an
    // extension row. Reverse discovery must scan the child — the no-scan
    // shortcut here would invent phantom keys for parents 2 and 3.
    val g = SchemaGraph(
      tables = Seq(TableDef("p", Seq("pid")), TableDef("ext", Seq("pid"))),
      references = Seq(
        Reference("ep", "ext", Seq("pid"), "p", Seq("pid")))) // forward+reverse
    val tbls: Map[String, DataFrame] = Map(
      "p" -> Seq((1, "a"), (2, "b"), (3, "c")).toDF("pid", "name"),
      "ext" -> Seq((1, "only-parent-1-has-an-extension")).toDF("pid", "extra"))
    val r = new Slicer(g, tbls(_)).run(Seq(SliceRoot("p", "pid >= 1")))
    assert(r.keyCounts("ext") == 1L, "phantom extension keys invented")
    assert(r.rows("ext").count() == 1L)
    assert(r.manifest.as[(String, Long)].collect().toMap == Map("p" -> 3L, "ext" -> 1L))
  }

  test("two FKs between the same tables expand through both") {
    // orders-style billing/shipping double reference: one frontier row
    // must pull BOTH referenced parents (candidates union per round)
    val g = SchemaGraph(
      tables = Seq(TableDef("addr", Seq("aid")), TableDef("ord", Seq("oid"))),
      references = Seq(
        Reference("bill", "ord", Seq("bill_aid"), "addr", Seq("aid"), reverse = false),
        Reference("ship", "ord", Seq("ship_aid"), "addr", Seq("aid"), reverse = false)))
    val tbls: Map[String, DataFrame] = Map(
      "addr" -> Seq((1, "x"), (2, "y"), (3, "z")).toDF("aid", "loc"),
      "ord" -> Seq((10, 1, 2), (11, 3, 3)).toDF("oid", "bill_aid", "ship_aid"))
    val r = new Slicer(g, tbls(_)).run(Seq(SliceRoot("ord", "oid = 10")))
    assert(r.rows("addr").select("aid").as[Int].collect().toSet == Set(1, 2))
    assert(r.keyCounts("addr") == 2L)
  }

  test("discovery equals a naive driver-side fixpoint on random FK-consistent data") {
    // randomized equivalence: the BFS (aug frontiers, pre-anti-joins,
    // no-scan PK candidates, held and distributed key sets) must reach
    // exactly the closure a trivial in-memory fixpoint computes, with
    // matching counts and maxes, on arbitrary FK-consistent data
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val nP = 2 + rnd.nextInt(4)
      val nC = 3 + rnd.nextInt(6)
      val nG = 3 + rnd.nextInt(8)
      val tbls: Map[String, DataFrame] = Map(
        "parent" -> (1 to nP).map(i => (i, s"p$i")).toDF("pid", "name"),
        "child" -> (1 to nC).map(i => (10 + i, 1 + rnd.nextInt(nP))).toDF("cid", "pid"),
        "grandchild" -> (1 to nG).map(i => (100 + i, 11 + rnd.nextInt(nC))).toDF("gid", "cid"))
      val rootMax = 1 + rnd.nextInt(nP)
      withClue(s"trial $trial: ") {
        assertNaive(graph, tbls, SliceRoot("parent", s"pid <= $rootMax"), _.getInt(0) <= rootMax)
      }
    }
  }

  test("a table held on the driver later receives a distributed generation") {
    // a(1) pulls b's 3 children (past limit 2: distributed); their
    // forward-only other_a values pull 3 more a keys, which no longer fit
    // a's limit either, so a holds {1} and spreads {2, 3, 4}; later
    // candidates for a and b then drop seen keys in Spark
    val g = SchemaGraph(
      tables = Seq(TableDef("a", Seq("id")), TableDef("b", Seq("id"))),
      references = Seq(
        Reference("ba", "b", Seq("a_id"), "a", Seq("id")),
        Reference("bo", "b", Seq("other_a"), "a", Seq("id"), reverse = false)))
    val data: Map[String, DataFrame] = Map(
      "a" -> (1 to 8).map(i => (i, s"a$i")).toDF("id", "name"),
      "b" -> Seq((10, 1, 2), (11, 1, 3), (12, 1, 4), (20, 2, 1), (21, 5, 1), (22, 6, 7))
        .toDF("id", "a_id", "other_a"))
    assertNaive(g, data, SliceRoot("a", "id = 1"), _.getInt(0) == 1)
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
    val keysA = new Slicer(g, data(_), 2L).run(Seq(SliceRoot("a", "id = 1"))).keys("a")
    keysA.queryExecution.analyzed match {
      case u: Union =>
        assert(u.children.exists(_.isInstanceOf[LocalRelation]), "no held generation")
        assert(u.children.exists(!_.isInstanceOf[LocalRelation]), "no distributed generation")
      case p => fail(s"a's keys are one generation: $p")
    }
  }

  test("CollectUpTo keeps at most each partition's share of the limit") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.operators.CollectUpTo
    def upTo(df: DataFrame, limit: Long): Option[Seq[Long]] = {
      val r = df.agg(ColumnBridge.column(
        CollectUpTo(ColumnBridge.expression(col("id")), limit).toAggregateExpression())).head()
      if (r.isNullAt(0)) None else Some(r.getSeq[Long](0).sorted)
    }
    // 4 partitions of 3 rows: each within its share ceil(12 / 4) = 3
    val even = spark.range(0, 12, 1, 4).toDF()
    assert(upTo(even, 12) == Some(0L until 12L))
    assert(upTo(even, 11).isEmpty, "12 rows passed a limit of 11")
    // 9 rows, within the limit, but one partition of 8 is past its share
    // of 3: it ships only its count, so the whole result is null
    val skewed = spark.range(0, 8, 1, 1).union(spark.range(8, 9, 1, 3)).toDF()
    assert(upTo(skewed, 12).isEmpty, "a partition kept more than its share")
    assert(upTo(skewed, 32) == Some(0L until 9L))
  }

  test("adversarial: null FK values are never keys and never match") {
    val g = SchemaGraph(
      tables = Seq(TableDef("p", Seq("pid")), TableDef("c", Seq("cid"))),
      references = Seq(Reference("cp", "c", Seq("pid"), "p", Seq("pid"))))
    val data: Map[String, DataFrame] = Map(
      "p" -> Seq((1, "x"), (2, "y"), (3, "z")).toDF("pid", "name"),
      "c" -> Seq((10, Some(1)), (11, None), (12, Some(2)), (13, None))
        .toDF("cid", "pid"))
    assertNaive(g, data, SliceRoot("c", "cid >= 10"), _ => true)
    assertNaive(g, data, SliceRoot("p", "pid = 1"), _.getInt(0) == 1)
  }

  test("adversarial: an empty root discovers nothing") {
    for (limit <- Limits) {
      val r = new Slicer(graph, tables(_), limit).run(Seq(SliceRoot("parent", "pid < 0")))
      assert(r.keys.isEmpty && r.keyCounts.values.forall(_ == 0L), s"limit $limit")
      assert(r.rows("parent").count() == 0L && r.manifest.count() == 0L, s"limit $limit")
    }
  }

  test("adversarial: a composite key reached through a two-column FK") {
    val g = SchemaGraph(
      tables = Seq(TableDef("p", Seq("a", "b")), TableDef("c", Seq("cid"))),
      references = Seq(Reference("cp", "c", Seq("pa", "pb"), "p", Seq("a", "b"))))
    val data: Map[String, DataFrame] = Map(
      "p" -> Seq((1, 1, "x"), (1, 2, "y"), (2, 1, "z")).toDF("a", "b", "name"),
      "c" -> Seq((10, 1, 1), (11, 1, 2), (12, 2, 1), (13, 1, 1)).toDF("cid", "pa", "pb"))
    assertNaive(g, data, SliceRoot("p", "a = 1 AND b = 2"), r => r.getInt(0) == 1 && r.getInt(1) == 2)
    assertNaive(g, data, SliceRoot("c", "cid = 12"), _.getInt(0) == 12)
  }

  test("adversarial: a two-table FK cycle walked both ways") {
    val g = SchemaGraph(
      tables = Seq(TableDef("a", Seq("id")), TableDef("b", Seq("id"))),
      references = Seq(
        Reference("ab", "a", Seq("bid"), "b", Seq("id")),
        Reference("ba", "b", Seq("aid"), "a", Seq("id"))))
    val data: Map[String, DataFrame] = Map(
      "a" -> Seq((1, Some(10)), (2, Some(11)), (3, None), (4, Some(12))).toDF("id", "bid"),
      "b" -> Seq((10, Some(2)), (11, Some(1)), (12, Some(3)), (13, None)).toDF("id", "aid"))
    assertNaive(g, data, SliceRoot("a", "id = 1"), _.getInt(0) == 1)
    assertNaive(g, data, SliceRoot("b", "id = 12"), _.getInt(0) == 12)
  }

  test("adversarial: an int FK onto a bigint key dedups against the key") {
    // reverse scans find children by the int column; their FK values
    // come back as ints and must drop against the bigint keys already
    // seen, or the parent's count inflates
    val g = SchemaGraph(
      tables = Seq(TableDef("p", Seq("pid")), TableDef("c", Seq("cid"))),
      references = Seq(Reference("cp", "c", Seq("pid"), "p", Seq("pid"))))
    val data: Map[String, DataFrame] = Map(
      "p" -> Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("pid", "name"),
      "c" -> Seq((10, 1), (11, 1), (12, 2)).toDF("cid", "pid"))
    assertNaive(g, data, SliceRoot("p", "pid = 1"), _.getLong(0) == 1L)
    assertNaive(g, data, SliceRoot("c", "cid = 12"), _.getInt(0) == 12)
  }

  test("adversarial: a string key's max follows cast(key as long)") {
    // s is reached only through the no-scan forward hop, so its max is
    // computed from held values: as strings "9" > "100"; as longs 100
    val g = SchemaGraph(
      tables = Seq(TableDef("c", Seq("cid")), TableDef("s", Seq("sid"))),
      references = Seq(Reference("cs", "c", Seq("sid"), "s", Seq("sid"), reverse = false)))
    val data: Map[String, DataFrame] = Map(
      "c" -> Seq((1, "9"), (2, "10"), (3, "100"), (4, "9")).toDF("cid", "sid"),
      "s" -> Seq("9", "10", "100", "7").toDF("sid"))
    assertNaive(g, data, SliceRoot("c", "cid >= 1"), _ => true)
  }

  test("manifest counts rows, not key tuples, for non-unique keys") {
    // ev's declared key (eid) is NOT unique: two rows share eid=7. The
    // manifest must report materialized rows (3), not discovered key
    // tuples (2) — the synthetic lineitem table has the same shape.
    val g = SchemaGraph(
      tables = Seq(TableDef("p", Seq("pid")),
        TableDef("ev", Seq("eid"), unique = false)),
      references = Seq(Reference("e_p", "ev", Seq("pid"), "p", Seq("pid"))))
    val tbls: Map[String, DataFrame] = Map(
      "p" -> Seq((1, "a"), (2, "b")).toDF("pid", "name"),
      "ev" -> Seq((7, 1, "x"), (7, 1, "y"), (8, 1, "z"), (9, 2, "w"))
        .toDF("eid", "pid", "v"))
    val m = new Slicer(g, tbls(_)).run(Seq(SliceRoot("p", "pid = 1"))).manifest
      .as[(String, Long)].collect().toMap
    assert(m == Map("p" -> 1L, "ev" -> 3L))
  }

  test("reachability closure honors reference directions") {
    assert(graph.reachableFrom("parent") == Set("parent", "child", "grandchild"))
    val fwd = graph.copy(references = graph.references.map(_.copy(reverse = false)))
    assert(fwd.reachableFrom("parent") == Set("parent"), "no reverse refs: nothing to pull")
    assert(fwd.reachableFrom("grandchild") == Set("grandchild", "child", "parent"))
  }

  test("restore order is parents-first; cycles marked deferred") {
    assert(graph.restoreOrder == Seq(
      ("parent", false), ("child", false), ("grandchild", false)))
    val cyclic = SchemaGraph(
      tables = Seq(TableDef("a", Seq("id")), TableDef("b", Seq("id"))),
      references = Seq(
        Reference("ab", "a", Seq("bid"), "b", Seq("id")),
        Reference("ba", "b", Seq("aid"), "a", Seq("id"))))
    val order = cyclic.restoreOrder
    assert(order.map(_._1).toSet == Set("a", "b"))
    assert(order.head._2, "first cycle member must be deferred")
  }

  test("cycle breaking prefers tables with DEFERRABLE incoming FKs") {
    val cyclic = SchemaGraph(
      tables = Seq(TableDef("a", Seq("id")), TableDef("b", Seq("id"))),
      references = Seq(
        Reference("ab", "a", Seq("bid"), "b", Seq("id")),
        Reference("ba", "b", Seq("aid"), "a", Seq("id"), deferrable = true)))
    // b's incoming FK is deferrable -> break the cycle at b, not min("a")
    assert(cyclic.restoreOrder == Seq(("b", true), ("a", false)))
  }

  test("slice_diff carves consistently: disjoint facts, shared dims") {
    val rows = graft.queries.SliceQueries.queries("slice_diff")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq ==
      Seq("customer", "lineitem", "nation", "orders", "part", "region", "supplier"))
    for ((t, na, nb, nc, oa, ob) <- rows) {
      assert(nc <= math.min(na, nb) && oa == na - nc && ob == nb - nc,
        s"$t: carve arithmetic broken")
    }
    val byT = rows.map(r => r._1 -> r).toMap
    // disjoint customer cohorts share ZERO fact keys...
    for (t <- Seq("customer", "orders", "lineitem"))
      assert(byT(t)._4 == 0, s"$t: disjoint cohorts share keys")
    // ...but the shared dimensions overlap (disjoint cohorts still buy
    // from the same parts/suppliers and live in the same regions)
    for (t <- Seq("nation", "region", "part", "supplier"))
      assert(byT(t)._4 > 0, s"$t: disjoint cohorts share no dimension keys")
  }
}
