package graft

import java.util.concurrent.atomic.AtomicInteger

/** The memo-cell contract the family caches rely on, held by
  * [[CacheBook.memo]]: one build per key under concurrency, independent
  * keys not serialized behind each other, failed builds retried. */
class OnceSpec extends SparkSpec {

  private val scope = "zonce"

  test("hammered from many threads, a cell builds exactly once") {
    val builds = new AtomicInteger(0)
    def cell(): Int = CacheBook.memo(spark, scope, "hammer", "k") {
      Thread.sleep(20); builds.incrementAndGet()
    }
    try {
      val threads = (1 to 16).map(_ => new Thread(() => { cell(); () }))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(builds.get() == 1)
      assert(cell() == 1)
    } finally CacheBook.release(spark, scope)
  }

  test("two keys build CONCURRENTLY (the map-monitor pattern serialized them)") {
    val gate = new java.util.concurrent.CyclicBarrier(2)
    // each build blocks until BOTH builds have started: under a
    // one-monitor-for-all-builds pattern this deadlocks past the await
    // timeout; with per-cell locks both proceed
    def cell(key: String): Int = CacheBook.memo(spark, scope, "pair", key) {
      gate.await(5, java.util.concurrent.TimeUnit.SECONDS); 1
    }
    try {
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val ta = new Thread(() => { cell("a"); done.incrementAndGet(); () })
      val tb = new Thread(() => { cell("b"); done.incrementAndGet(); () })
      ta.start(); tb.start(); ta.join(8000); tb.join(8000)
      assert(!ta.isAlive && !tb.isAlive, "independent cells must not serialize")
      // liveness alone passes when both builds DIE on the broken barrier —
      // assert both actually completed (and thus overlapped)
      assert(done.get() == 2 && cell("a") == 1 && cell("b") == 1,
        "both builds must have completed through the barrier")
    } finally CacheBook.release(spark, scope)
  }

  test("a failed build retries instead of caching the exception") {
    val attempts = new AtomicInteger(0)
    def cell(): String = CacheBook.memo(spark, scope, "flaky", "k") {
      if (attempts.incrementAndGet() == 1) sys.error("transient")
      "ok"
    }
    try {
      intercept[RuntimeException] { cell() }
      assert(cell() == "ok")
      assert(attempts.get() == 2)
    } finally CacheBook.release(spark, scope)
  }
}
