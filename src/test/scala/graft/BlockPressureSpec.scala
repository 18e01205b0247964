package graft

import org.apache.spark.storage.StorageLevel

/** The round-13 window anomaly as a regression gate: the d/s/m family
  * "weak" entries' warm re-runs must stay PROBE-priced — near-zero cpu
  * and near-zero cache-block writes — even after the block store has
  * been churned by storage eviction. The r13 signature (a warm retry
  * re-writing its 70 loop blocks behind a live memo) was a
  * memo-discipline hole: the expensive subtree was covered by no memo,
  * so every re-run re-ran and re-stored it. A lazy or MEMORY_ONLY memo
  * regresses the same way (evicted → silently recomputed on the warm
  * pass) and turns this spec red; MEMORY_AND_DISK / localCheckpoint
  * memos demote to disk under eviction and the warm pass re-reads them
  * (writes ≈ 0, cpu a small fraction of the build).
  *
  * Knobs this pins (mechanical, artifact-mirrored): warm rddWrites ≤ 8
  * — the same +8 AQE-jitter floor as [[Bench.writesOver]] — and warm
  * cpu ≤ half the first-touch cpu. Entries: the three r13 `weak` ones.
  */
class BlockPressureSpec extends SparkSpec {

  private def measured(name: String): JobMeter.Reading =
    JobMeter.measure(spark.sparkContext) {
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
    }._2

  test("r13-weak entries stay probe-priced on a warm pass under storage eviction") {
    val entries = Seq("d_cluster_stars", "s_dbscan", "m_scene_dedup_inc")
    try {
      // first touch: builds every memo the entries share (edges, star
      // labels, scene sigs, the dbscan result memo)
      val firstCpu = entries.map(n => n -> measured(n).cpuSec).toMap
      // storage eviction: fill the store with a MEMORY_ONLY hog sized
      // past the storage pool, so LRU evicts/demotes the standing memo
      // blocks (MEMORY_AND_DISK blocks move to disk; a MEMORY_ONLY or
      // lazy memo would silently drop and recompute — the regression
      // this spec exists to catch)
      import org.apache.spark.sql.functions._
      val hogRows = (Runtime.getRuntime.maxMemory() / 2 / 1024).toInt
      val hog = spark.range(0, hogRows.toLong, 1, 4)
        .select(col("id"),
          concat_ws("", (0 until 16).map(i =>
            md5(concat(col("id").cast("string"), lit(s"#$i")))): _*).as("pad"))
        .persist(StorageLevel.MEMORY_ONLY)
      try {
        hog.count()
        // warm pass under pressure: every entry must read standing
        // state — near-zero writes, cpu a fraction of its build
        entries.foreach { n =>
          val JobMeter.Reading(_, cpu, writes) = measured(n)
          assert(writes <= 8,
            s"$n warm pass re-stored $writes blocks — a memo is being " +
              "silently recomputed (the r13 d_cluster_stars signature)")
          assert(cpu <= math.max(0.5 * firstCpu(n), 1.0),
            s"$n warm cpu ${cpu}s vs first-touch ${firstCpu(n)}s — " +
              "the warm pass is re-running its build")
        }
      } finally hog.unpersist(true)
    } finally CacheBook.releaseAll(spark)
  }
}
