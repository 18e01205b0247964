package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Cache-lifecycle contract: releasing a family's memoized relations
  * must evict the memo entries too, so a later call REBUILDS from
  * source and still produces the same answer (a stale handle over an
  * unpersisted checkpoint would fail — there is no lineage left to
  * recompute from). */
class CacheBookSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("released dedup caches rebuild and d_cluster still matches itself") {
    val q = queries.Dedup.queries("d_cluster")
    val before = q(spark, dir).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty)
    assert(CacheBook.liveScopes(spark).contains("d"))

    CacheBook.releaseAll(spark)
    assert(CacheBook.liveScopes(spark).isEmpty)

    val after = q(spark, dir).collect().map(_.toSeq).toSeq
    assert(after == before)
    // the rebuild re-registered its caches
    assert(CacheBook.liveScopes(spark).contains("d"))
    CacheBook.releaseAll(spark)
  }

  test("released slice memo rebuilds and the manifest still matches") {
    val q = queries.SliceQueries.queries("slice_manifest")
    val before = q(spark, dir).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty)
    CacheBook.release(spark, "slice")
    val after = q(spark, dir).collect().map(_.toSeq).toSeq
    assert(after == before)
    CacheBook.releaseAll(spark)
  }

  test("released similarity memos (IVF index + PQ model) rebuild identically") {
    // guards the round-5 ivfCache/pqCache release path: after release
    // the memo maps must be empty (not holding dead persisted handles)
    // and a re-run rebuilds to the same answer
    val ivf = queries.Similarity.queries("s_ivfpq_ann")
    val before = ivf(spark, dir).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty)
    assert(CacheBook.liveScopes(spark).contains("s"))
    CacheBook.release(spark, "s")
    assert(!CacheBook.liveScopes(spark).contains("s"))
    val after = ivf(spark, dir).collect().map(_.toSeq).toSeq
    assert(after == before)
    assert(CacheBook.liveScopes(spark).contains("s"))
    CacheBook.releaseAll(spark)
  }

  test("release tolerates unknown scopes and double release") {
    CacheBook.release(spark, "no-such-scope")
    CacheBook.releaseAll(spark)
    CacheBook.releaseAll(spark)
  }

  // ---- memo/keep on tiny in-memory frames --------------------------------

  /** A kept eager checkpoint, and whether its blocks are still held. */
  private def checkpoint(scope: String): DataFrame =
    CacheBook.keep(spark, scope)(spark.range(8).toDF("id").localCheckpoint(true))
  private def held(cp: DataFrame): Boolean = spark.sparkContext.getPersistentRDDs
    .contains(cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id)
  private def persisted(scope: String): DataFrame =
    CacheBook.keep(spark, scope)(CacheBook.materialize(
      spark.range(8).toDF("id").persist(StorageLevel.MEMORY_ONLY)))

  test("a memo whose build throws is absent from liveNamed, and the next call rebuilds it") {
    val attempts = new AtomicInteger(0)
    var partial: DataFrame = null
    def memo(): DataFrame = CacheBook.memo(spark, "zfail", "flaky", "k") {
      val cp = checkpoint("zfail")
      if (attempts.incrementAndGet() == 1) { partial = cp; sys.error("transient") }
      cp
    }
    try {
      intercept[RuntimeException](memo())
      assert(!CacheBook.liveNamed(spark).contains(("zfail", "flaky")),
        "a failed build must not leave its name live")
      assert(!CacheBook.liveScopes(spark).contains("zfail"))
      assert(!held(partial), "the failed build's kept frame must be freed")
      val cp = memo()
      assert(attempts.get() == 2 && cp.count() == 8 && held(cp))
      assert(CacheBook.liveNamed(spark).contains(("zfail", "flaky")))
      assert(memo() eq cp)
    } finally CacheBook.release(spark, "zfail")
  }

  test("release(scope) evicts the cell and frees the frames kept during the build") {
    val builds = new AtomicInteger(0)
    def memo(): (DataFrame, DataFrame) = CacheBook.memo(spark, "zrel", "pair", "k") {
      builds.incrementAndGet()
      (checkpoint("zrel"), persisted("zrel"))
    }
    try {
      val (cp, pd) = memo()
      assert(held(cp) && pd.storageLevel != StorageLevel.NONE)
      CacheBook.release(spark, "zrel")
      assert(!held(cp), "release must free the kept checkpoint")
      assert(pd.storageLevel == StorageLevel.NONE, "release must unpersist the kept frame")
      assert(CacheBook.liveScopes(spark).forall(_ != "zrel"))
      val (cp2, _) = memo()
      assert(builds.get() == 2 && !(cp2 eq cp), "a released memo must rebuild")
    } finally CacheBook.release(spark, "zrel")
  }

  test("anonymous registrations during a named build attach to the memo") {
    // a memo's build-side per-call state (Slicer key frames, beamWalk
    // checkpoints) belongs to the memo: a failed build frees it on the
    // spot, while registrations outside the build, or for another
    // scope inside it, stay until their own scope is released
    var attached = false; var outside = false; var other = false
    CacheBook.register(spark, "zb")(() => outside = true)
    try {
      intercept[RuntimeException] {
        CacheBook.memo(spark, "zb", "memoA", "k") {
          CacheBook.register(spark, "zb")(() => attached = true)
          CacheBook.register(spark, "zb2")(() => other = true)
          sys.error("build fails")
        }
      }
      assert(attached, "the build-side thunk must go with the failed memo")
      assert(!outside && !other, "thunks outside the build's scope must stand")
      assert(CacheBook.liveScopes(spark).contains("zb"))
      CacheBook.release(spark, "zb")
      assert(outside && !other)
    } finally { CacheBook.release(spark, "zb"); CacheBook.release(spark, "zb2") }
    assert(other)
  }

  test("release(scope) frees one scope's memo frames and leaves other scopes' memos standing") {
    def memo(scope: String): DataFrame =
      CacheBook.memo(spark, scope, "m", "k")(checkpoint(scope))
    try {
      val (a, b) = (memo("zsa"), memo("zsb"))
      CacheBook.release(spark, "zsa")
      assert(!held(a), "the released scope's kept frame must be freed")
      assert(held(b) && (memo("zsb") eq b), "the other scope's memo must stand")
      assert(!CacheBook.liveNamed(spark).contains(("zsa", "m")))
      assert(CacheBook.liveNamed(spark).contains(("zsb", "m")))
      assert(!(memo("zsa") eq a), "the released memo rebuilds")
    } finally { CacheBook.release(spark, "zsa"); CacheBook.release(spark, "zsb") }
  }

  test("traced records a memo on its cold build and its warm read; liveNamed lists it once built") {
    val q = queries.Dedup.queries("d_exact")
    CacheBook.releaseAll(spark)
    try {
      assert(!CacheBook.liveNamed(spark).exists(_._1 == "d"))
      val (_, cold) = CacheBook.traced { q(spark, dir).count() }
      assert(cold.contains(("d", "exact_pairs")))
      val live = CacheBook.liveNamed(spark)
      assert(live.contains(("d", "exact_pairs")))
      val (_, warm) = CacheBook.traced { q(spark, dir).count() }
      assert(warm.contains(("d", "exact_pairs")))
      assert(warm.toSet.subsetOf(live), s"a warm read touches only live memos: $warm")
      assert(CacheBook.liveNamed(spark) == live, "a warm read builds nothing new")
    } finally CacheBook.releaseAll(spark)
  }
}
