package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at the given scale
  * factor, one JSON line on stdout. Failures are recorded explicitly
  * (name -> error) and fail the process — a crash must never be
  * reported as a timing.
  *
  * SELF-EXPLAINING timings: alongside wall-clock, every query reports
  * its Spark JOB COUNT and summed EXECUTOR CPU TIME ([[JobMeter]];
  * the bus is drained before each reading). The two together separate
  * the two stories a slow sample can tell: wall up with cpu flat and
  * jobs equal = the environment (scheduling delay, CPU contention —
  * the query sat waiting); wall AND cpu up = the query actually did
  * more work (recomputation, spill churn). A contended-window number
  * is then diagnosable from the artifact alone.
  *
  * BUDGET RETRIES: with a budget map (SPARK_GRAFT_BENCH_BUDGET, JSON
  * {query: seconds}; defaults to tools/bench_budget.json = committed
  * local medians), any query whose wall-clock exceeds
  * SPARK_GRAFT_BENCH_BUDGET_K (default 3) times its budget is run a
  * SECOND time and both samples are reported — `queries` always keeps
  * the first (honest) sample; `retries`/`retryCpuSec` carry the warm
  * second sample. A transient contention spike shows a fast retry; a
  * real regression stays slow twice. `retryKind` qualifies each retry
  * PRECISELY (round 12): the warm retry runs under a CacheBook memo-access
  * trace, and it is "cache-read" iff it actually READ at least one
  * named memo that was live when it started (fast-retry then proves
  * nothing about a regression), "clean" otherwise. `retryTouched`
  * carries the touched live memo names per retry, so a slow
  * "cache-read" retry is diagnosable from the artifact (which warm
  * state it read — and, by elimination, which expensive subtree the
  * memos do NOT cover).
  *
  * CLEAN RETRIES: a cache-read retry cannot falsify a regression on a
  * memoized/build query (every r08 retry was cache-read — the
  * over-budget build entries stayed undecidable). So whenever the warm
  * retry ran cache-read, EXACTLY the touched live memos are released
  * ([[CacheBook.releaseNamed]]) and a third, `clean` sample re-runs
  * the query from cold: regression vs contention is then decidable
  * from the artifact alone (`retriesClean` / `retriesCleanCpuSec` /
  * `retriesCleanJobs`). The clean retry rebuilds — and re-registers —
  * every memo it touches, and NO OTHER memo moves: the r9-r11 cascade
  * (a whole-family release on one flake re-pricing every later
  * same-family entry as a first touch) is structurally impossible —
  * a forced flake on one entry changes no downstream entry's job
  * count (BenchRetrySpec pins this against live memos).
  *
  * ENVIRONMENT ATTRIBUTION (round 13): two more evidence channels make
  * an over-budget cpu reading decidable from the artifact alone.
  * (1) `rddWrites` — per-sample RDD cache-block WRITES (stores,
  * recompute-stores, memory→disk eviction moves; reads never count).
  * A warm probe of standing memos must show ~0; a large count at flat
  * jobs is block-store churn measured, not inferred. (2) a CPU
  * CALIBRATION probe (fixed 512k-md5 task, no cache): its cpu on an idle
  * machine is committed as `_calibCpuSec` in the budget file; the bench
  * reports it once at start (`calibCpuSec`) and again right before
  * every retry (`retryCalibCpuSec`). cpu-time counts cycles a thread
  * HOLDS a logical core, so SMT-sibling load and frequency scaling
  * inflate it at identical work — the r12 driver window inflated the
  * no-cache d_simhash 4x this way. Reading rule: query cpu inflated
  * AND calib inflated by a similar factor => environment; calib clean
  * => the query did more work (regression or recompute — check
  * rddWrites to split those).
  *
  * READING a clean retry: for a *_build entry (whose budget already
  * includes its builds) the clean sample compares directly against
  * budget. For a PROBE-priced entry (budget measured with warm
  * memos), the clean sample includes rebuilding the memos the query
  * touches — compare its cpuSec against the corresponding *_build
  * budget cpu plus the probe budget, not the probe budget alone. */
object Bench {

  /** The retry-classification/release contract, factored out so
    * BenchRetrySpec can pin it: a warm retry is a cache-read iff its
    * traced touches intersect the memos live at its start, and the
    * clean retry releases EXACTLY that intersection — never a whole
    * scope. (Memos the retry built itself — impossible after a
    * successful first sample, but defensively — are not released:
    * they are not pre-existing warm state.) */
  def retryReleaseSet(liveBefore: Set[(String, String)],
      touched: Seq[(String, String)]): Set[(String, String)] =
    touched.toSet.intersect(liveBefore)

  /** Budget reader. The machine-authored file
    * (tools/bench_budget.json) carries per-query MEDIANS of wall, jobs
    * and cpuSec as {"name": {"wall": s, "jobs": n, "cpuSec": s}, ...}
    * — the retry trigger reads `wall`; jobs/cpuSec are committed so
    * BASELINE.md's reading rules (jobs up = plan change, cpu up =
    * regression) are mechanically checkable against the artifact. The
    * legacy flat {"name": seconds} form still parses. A missing or
    * unparseable file disables retries but must SAY so: silent
    * disablement is indistinguishable from armed-and-quiet, and the
    * retry samples are the whole diagnostic. */
  private def readBudget(path: String): Map[String, Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) {
      System.err.println(s"[bench] no budget file at $path — over-budget retries disabled")
      return Map.empty
    }
    val text = try new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      catch { case _: Throwable => "" }
    val nested =
      """"([^"]+)"\s*:\s*\{[^}]*"wall"\s*:\s*([0-9][0-9.eE+-]*)""".r
        .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
    val parsed = if (nested.nonEmpty) nested
      else """"([^"]+)"\s*:\s*([0-9][0-9.eE+-]*)""".r
        .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
    if (parsed.isEmpty)
      System.err.println(s"[bench] budget file $path parsed empty — retries disabled")
    parsed
  }

  /** Per-query committed rddWrites medians (round 14) — the
    * eviction/recompute channel's expectations. Absent in legacy
    * budget files; then no writes are flagged. */
  private def readWriteBudget(path: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) return Map.empty
    val text = try new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      catch { case _: Throwable => "" }
    """"([^"]+)"\s*:\s*\{[^}]*"rddWrites"\s*:\s*([0-9]+)""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** The mechanical writes-over-budget rule: a first sample whose
    * cache-block writes exceed 2x the committed median + 8 carries the
    * recompute/eviction signature (the +8 floor absorbs AQE jitter on
    * near-zero-write probes). Factored out so BenchRetrySpec pins it. */
  def writesOver(observed: Long, committed: Long): Boolean =
    observed > 2 * committed + 8

  def main(args: Array[String]): Unit = {
    val failed = Sessions.run(
        // per-task cached-block write statuses feed the rddWrites counter
        // (off by default; the accumulator cost is noise at bench scale)
        "spark.taskMetrics.trackUpdatedBlockStatuses" -> "true") { spark =>
      bench(spark, args.toSet)
    }
    if (failed) sys.exit(1)
  }

  /** Time every registered query (or those in `only`) on `spark`, print
    * the JSON lines; true iff some query failed. */
  private def bench(spark: SparkSession, only: Set[String]): Boolean = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Untimed warmup: touch every table's scan path once. Otherwise the
    // alphabetically-first query absorbs ~5s of JVM/codegen/parquet
    // cold start that belongs to the harness, not the query (observed:
    // whichever query ran first was 4-6s slower than its warm cost).
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(256).collect()
      catch { case _: Throwable => () }
    }
    // ... and the common codegen/JIT paths (hash, shuffle agg, window,
    // sort) with a synthetic relation, so the first timed query measures
    // its work, not Janino/JIT infrastructure start-up.
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(org.apache.spark.sql.functions.col("g"))
        .orderBy(org.apache.spark.sql.functions.col("id"))
      spark.range(0, 4096)
        .select(col("id"), (col("id") % 7).as("g"),
          md5(concat(col("id").cast("string"), lit("w"))).as("h"))
        .withColumn("rn", row_number().over(w))
        .groupBy("g").agg(count(lit(1)), min("h"), sum("rn"))
        .orderBy("g").collect()
    }
    val budgetPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET",
      "tools/bench_budget.json")
    val budget = readBudget(budgetPath)
    val writeBudget = readWriteBudget(budgetPath)
    val retryK = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_K")
      .flatMap(_.toDoubleOption).getOrElse(3.0)
    // absolute retry floor: sub-second probe entries (budget 0.1-0.3 s)
    // cross 3x their budget on pure window contention. Since round 12 a
    // spurious retry can no longer CASCADE (the clean retry releases
    // only the memos the query touched, which its own re-run rebuilds),
    // so the floor now guards only against wasted retry + clean-sample
    // work in a noisy window. A regression on a tiny probe that
    // actually matters clears the floor anyway.
    val retryFloor = sys.env.get("SPARK_GRAFT_BENCH_RETRY_FLOOR")
      .flatMap(_.toDoubleOption).getOrElse(1.0)
    val errors = collection.mutable.Map.empty[String, String]
    // CPU-CALIBRATION probe: a fixed pure-compute task (512k codegen md5s,
    // no cache, no shuffle beyond one agg) whose cpuSec on an idle
    // machine is committed next to the budgets (_calibCpuSec). Its
    // inflation factor in any window measures the environment's
    // compute-cpu tax (SMT sharing, frequency scaling, co-tenant load)
    // DIRECTLY: cpu-time counts cycles a thread holds a logical core,
    // so a busy sibling hyperthread inflates cpu at identical work.
    // Run once at start and again right before each over-budget retry,
    // an over-budget cpu reading is attributable from the artifact
    // alone: calib inflated too => environment; calib clean => the
    // query really did more work (the r12 d_simhash-vs-d_containment
    // ambiguity, resolved mechanically).
    def calibCpu(): Double = {
      import org.apache.spark.sql.functions._
      JobMeter.measure(spark.sparkContext) {
        spark.range(0, 1L << 19, 1, spark.sparkContext.defaultParallelism)
          .select(md5(concat(col("id").cast("string"), lit("calib"))).as("h"))
          .agg(count(when(substring(col("h"), 1, 1) === "0", 1))).collect()
      }._2.cpuSec
    }
    calibCpu() // untimed: JIT/codegen-warm the calib plan itself
    val calibStart = calibCpu()
    def family(n: String) = n.takeWhile(_ != '_')
    // alphabetical within family, except the explicit *_build entries
    // run FIRST in their family — absorbing the one-time memo builds is
    // their documented job, and alphabetical order would otherwise hand
    // s_index_build's work to whichever s_* query sorts first
    val ordered = SparkEntry.queries.toSeq
      .sortBy { case (name, _) => (family(name), !name.contains("_build"), name) }
      .filter { case (name, _) => only.isEmpty || only(name) }
    case class Sample(sec: Double, jobs: Long, cpuSec: Double, rddWrites: Long)
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Sample = {
      val (elapsed, m) = JobMeter.measure(spark.sparkContext) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        (System.nanoTime() - t0) / 1e9
      }
      Sample(elapsed, m.jobs, m.cpuSec, m.rddWrites)
    }
    // first samples whose cache-block writes exceed the committed
    // expectation — the recompute/eviction signature, flagged from the
    // artifact alone (observed vs committed)
    val writesFlagged = collection.mutable.Map.empty[String, String]
    val retries = collection.mutable.Map.empty[String, Sample]
    val retryKind = collection.mutable.Map.empty[String, String]
    val retryTouched = collection.mutable.Map.empty[String, String]
    val retryCalib = collection.mutable.Map.empty[String, Double]
    val retriesClean = collection.mutable.Map.empty[String, Sample]
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      val s1 = timed(name, fn)
      if (!errors.contains(name)
          && writeBudget.get(name).exists(w => Bench.writesOver(s1.rddWrites, w)))
        writesFlagged(name) =
          s"${s1.rddWrites} vs ${writeBudget(name)} committed"
      // over budget: take a second (warm) sample — a contention spike
      // retries fast, a true regression stays slow. Never replaces the
      // first sample; both are reported. A retry that CRASHES is not a
      // timing ("a crash must never be reported as a timing") and must
      // not fail a bench whose first sample was valid: drop the sample,
      // note the flake, clear the error.
      if (!errors.contains(name)
          && budget.get(name).exists(b =>
            s1.sec > math.max(retryK * b, retryFloor))) {
        // warm-state honesty, measured not guessed: trace which named
        // memos the retry actually READS. It is a cache-read iff its
        // touch set intersects the memos live when it started — a
        // query whose warm state never covered its expensive subtree
        // (the r11 d_dedup_eval mislabel) now classifies by evidence.
        // price the window first: the calibration cpu right before the
        // retry is the environment-attribution denominator
        retryCalib(name) = calibCpu()
        val liveBefore = CacheBook.liveNamed(spark)
        val (r, touched) = CacheBook.traced { timed(name, fn) }
        val hits = Bench.retryReleaseSet(liveBefore, touched)
        val kind = if (hits.nonEmpty) "cache-read" else "clean"
        if (errors.contains(name)) {
          System.err.println(
            s"[bench] diagnostic retry of $name failed: ${errors(name)} — " +
              "first (successful) sample stands")
          errors.remove(name)
          // no retry sample stands, so no calib either: an orphan
          // retryCalibCpuSec key would break the artifact's
          // calib-joined-to-retry reading rule
          retryCalib.remove(name)
        } else {
          retries(name) = r; retryKind(name) = kind
          if (hits.nonEmpty)
            retryTouched(name) = hits.toSeq.sorted
              .map { case (sc, nm) => s"$sc/$nm" }.mkString(",")
          // a cache-read retry can't falsify a regression on a memoized
          // query: release EXACTLY the memos it touched (no other
          // entry's warm state moves — the whole-family release
          // cascaded first-touch rebuilds through every later
          // same-family entry in r9-r11) and take a CLEAN sample; the
          // re-run rebuilds and re-registers those same memos, so
          // every later consumer still finds them standing.
          if (hits.nonEmpty) {
            CacheBook.releaseNamed(spark, hits); System.gc()
            val rc = timed(name, fn)
            if (errors.contains(name)) {
              System.err.println(
                s"[bench] clean retry of $name failed: ${errors(name)} — " +
                  "cache-read retry stands")
              errors.remove(name)
            } else retriesClean(name) = rc
          }
        }
      }
      // UNTIMED family-boundary release: memoized caches are built for a
      // family and must not sit in the block store taxing every later
      // query (the r04 driver bench showed exactly that buildup). The GC
      // nudge lets the ContextCleaner reclaim now-unreferenced
      // checkpoint RDDs (per-call eager checkpoints inside operators).
      val last = i == ordered.size - 1 || family(ordered(i + 1)._1) != family(name)
      if (last) { CacheBook.release(spark, family(name)); System.gc() }
      name -> s1
    }
    CacheBook.releaseAll(spark)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1F]", " ") + "\""
    // short numbers keep the line inside tail captures; Locale.ROOT so a
    // comma-decimal JVM locale can't corrupt the JSON
    def sec(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      java.lang.Double.valueOf(v))
    def obj(pairs: Seq[(String, String)]) =
      pairs.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, s) => k -> sec(s.sec) })
    val js = obj(results.map { case (k, s) => k -> s.jobs.toString })
    val cs = obj(results.map { case (k, s) => k -> sec(s.cpuSec) })
    val ws = obj(results.map { case (k, s) => k -> s.rddWrites.toString })
    val rs = obj(retries.toSeq.sortBy(_._1).map { case (k, s) => k -> sec(s.sec) })
    val rcs = obj(retries.toSeq.sortBy(_._1).map { case (k, s) => k -> sec(s.cpuSec) })
    val rws = obj(retries.toSeq.sortBy(_._1).map { case (k, s) => k -> s.rddWrites.toString })
    val rks = obj(retryKind.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) })
    val rts = obj(retryTouched.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) })
    val rcal = obj(retryCalib.toSeq.sortBy(_._1).map { case (k, v) => k -> sec(v) })
    val rcl = obj(retriesClean.toSeq.sortBy(_._1).map { case (k, s) => k -> sec(s.sec) })
    val rclc = obj(retriesClean.toSeq.sortBy(_._1).map { case (k, s) => k -> sec(s.cpuSec) })
    val rclj = obj(retriesClean.toSeq.sortBy(_._1).map { case (k, s) => k -> s.jobs.toString })
    val rclw = obj(retriesClean.toSeq.sortBy(_._1).map { case (k, s) => k -> s.rddWrites.toString })
    val es = obj(errors.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) })
    val wf = obj(writesFlagged.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) })
    val total = results.map(_._2.sec).sum
    val json =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","calibCpuSec":${sec(calibStart)},"queries":$qs,"jobs":$js,"cpuSec":$cs,"rddWrites":$ws,"writesOverBudget":$wf,"retries":$rs,"retryCpuSec":$rcs,"retryRddWrites":$rws,"retryKind":$rks,"retryTouched":$rts,"retryCalibCpuSec":$rcal,"retriesClean":$rcl,"retriesCleanCpuSec":$rclc,"retriesCleanJobs":$rclj,"retriesCleanRddWrites":$rclw,"errors":$es,"sf":"$sfDir"}"""
    // a line-capture of stdout can truncate a long JSON line (BENCH_r03
    // lost 9 queries + the total that way) — ALSO persist it to a file
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case _: Throwable => () } // stdout remains the contract
    println(json)
    // ROUND 15, the driver contract repair (r14 VERDICT item 1): every
    // BENCH_r*.json since round 1 carries `parsed: null` because the
    // full line above (~20 KB at 271 queries) overflows the driver's
    // 2000-char tail capture — the driver has NEVER seen a bench
    // result. Emit a compact summary as the LAST stdout line, well
    // inside any tail window; the full per-query payload stays in the
    // line above and in bench_out.json. Timed code is untouched.
    println(s"""{"metric":"total","value":${sec(total)},"unit":"sec","calibCpuSec":${sec(calibStart)},"n":${results.size},"errors":${errors.size},"retries":${retries.size},"sf":"$sfDir"}""")
    errors.nonEmpty
  }
}
