package graft

/** The bench retry contract after the round-12 structural fix:
  *
  *  1. retryKind is EVIDENCE-based — "cache-read" iff the traced warm
  *     retry actually read a named memo that was live when it started;
  *     a deliberately cold family classifies "clean" (the r11
  *     d_dedup_eval mislabel mode).
  *  2. the clean retry releases EXACTLY the touched live memos — a
  *     forced flake on one memoized s-entry must change NO downstream
  *     entry's job count (the r9-r11 whole-family-release cascade). */
class BenchRetrySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def jobsOf(body: => Unit): Long =
    JobMeter.measure(spark.sparkContext)(body)._2.jobs

  test("writesOver: the committed-writes rule fires above 2x + 8 and not below") {
    // the round-14 mechanical reading rule, pinned: 2x absorbs plan-
    // proportional growth, +8 absorbs AQE jitter on near-zero probes
    assert(!Bench.writesOver(0, 0))
    assert(!Bench.writesOver(8, 0))
    assert(Bench.writesOver(9, 0))
    assert(!Bench.writesOver(148, 70)) // 2*70+8 = 148, boundary holds
    assert(Bench.writesOver(149, 70))
    assert(!Bench.writesOver(70, 70)) // at-budget never flags
  }

  test("retryKind: cold family classifies clean, warm memo classifies cache-read") {
    val q = queries.Dedup.queries("d_exact")
    CacheBook.releaseAll(spark)

    // deliberately cold family: nothing live, so even though the run
    // BUILDS the memo, it read no pre-existing warm state -> clean
    val liveCold = CacheBook.liveNamed(spark)
    assert(!liveCold.exists(_._1 == "d"))
    val (_, touchedCold) = CacheBook.traced { q(spark, dir).count() }
    assert(touchedCold.contains(("d", "exact_pairs")))
    assert(Bench.retryReleaseSet(liveCold, touchedCold).isEmpty) // -> "clean"

    // warm memo: the same query now reads state a prior run built
    val liveWarm = CacheBook.liveNamed(spark)
    assert(liveWarm.contains(("d", "exact_pairs")))
    val (_, touchedWarm) = CacheBook.traced { q(spark, dir).count() }
    val hits = Bench.retryReleaseSet(liveWarm, touchedWarm)
    assert(hits.contains(("d", "exact_pairs"))) // -> "cache-read"
    // and the release set holds ONLY what was touched AND live
    assert(hits.subsetOf(liveWarm) && hits.subsetOf(touchedWarm.toSet))
    CacheBook.releaseAll(spark)
  }

  test("forced flake on one memoized s-entry moves no downstream job count") {
    val ivf = queries.Similarity.queries("s_ivf_ann")
    val recall = queries.Similarity.queries("s_ivf_recall")
    val bf = queries.Similarity.queries("s_cosine_topk")
    CacheBook.releaseAll(spark)

    // warm everything the way the bench order does (build first)
    bf(spark, dir).count()
    ivf(spark, dir).count()
    val jBefore = jobsOf { recall(spark, dir).count() }
    val bf1 = bf(spark, dir) // memo instance — identity proves no rebuild

    // FORCED FLAKE on s_ivf_ann: the bench's exact retry path —
    // traced warm retry, per-memo release of the touched live memos,
    // clean re-run (which rebuilds and re-registers them)
    val liveBefore = CacheBook.liveNamed(spark)
    val (_, touched) = CacheBook.traced { ivf(spark, dir).count() }
    val hits = Bench.retryReleaseSet(liveBefore, touched)
    // the warm retry reads only the entry's own result memo — the IVF
    // index behind it is NOT touched on a memo hit and must survive
    assert(hits == Set(("s", "ann:s_ivf_ann")))
    CacheBook.releaseNamed(spark, hits)
    val liveAfterRelease = CacheBook.liveNamed(spark)
    assert(!liveAfterRelease.contains(("s", "ann:s_ivf_ann")))
    assert(liveAfterRelease.contains(("s", "ivf:false"))) // index stands
    assert(liveAfterRelease.contains(("s", "bf_topk")))   // ground truth stands
    ivf(spark, dir).count() // clean retry: rebuilds + re-registers
    assert(CacheBook.liveNamed(spark).contains(("s", "ann:s_ivf_ann")))

    // downstream entries find every memo exactly as warm as before the
    // flake: identical job count, identical memo instance
    val jAfter = jobsOf { recall(spark, dir).count() }
    assert(jAfter == jBefore,
      s"downstream s_ivf_recall job count moved after a forced flake: $jBefore -> $jAfter")
    assert(bf(spark, dir) eq bf1, "bf_topk memo was rebuilt by the flake path")
    CacheBook.releaseAll(spark)
  }

  test("anonymous registrations during a named build attach to the memo") {
    // the clean-retry leak fix: a memo's build-side per-call state
    // (Slicer key frames, beamWalk checkpoints) must release WITH the
    // memo on releaseNamed, not linger to the family boundary
    var attached = false
    var outside = false
    CacheBook.building(spark, "zb", "memoA") {
      CacheBook.register(spark, "zb")(() => attached = true)
    }
    CacheBook.register(spark, "zb")(() => outside = true) // truly anonymous
    CacheBook.releaseNamed(spark, Set(("zb", "memoA")))
    assert(attached && !outside,
      "build-side thunk must release with the memo; outside thunk must not")
    CacheBook.release(spark, "zb")
    assert(outside)
  }

  test("releaseNamed leaves anonymous (per-call) registrations standing") {
    var anon = false; var named = false
    CacheBook.register(spark, "ztest")(() => anon = true)
    CacheBook.register(spark, "ztest", "m1")(() => named = true)
    CacheBook.releaseNamed(spark, Set(("ztest", "m1")))
    assert(named && !anon)
    assert(!CacheBook.liveNamed(spark).contains(("ztest", "m1")))
    assert(CacheBook.liveScopes(spark).contains("ztest")) // anon thunk remains
    CacheBook.release(spark, "ztest")
    assert(anon)
  }
}
