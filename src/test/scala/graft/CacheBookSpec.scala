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

  test("releaseNamed frees a memo's kept frames and leaves other memos standing") {
    def memo(name: String): DataFrame =
      CacheBook.memo(spark, "znamed", name, "k")(checkpoint("znamed"))
    try {
      val (a, b) = (memo("a"), memo("b"))
      CacheBook.releaseNamed(spark, Set(("znamed", "a")))
      assert(!held(a), "the released memo's kept frame must be freed")
      assert(held(b) && (memo("b") eq b), "the other memo must stand")
      assert(!CacheBook.liveNamed(spark).contains(("znamed", "a")))
      assert(CacheBook.liveNamed(spark).contains(("znamed", "b")))
      assert(!(memo("a") eq a), "the released memo rebuilds")
    } finally CacheBook.release(spark, "znamed")
  }
}
