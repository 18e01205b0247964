package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT percentiles at bounded memory — the scale-safe replacement for
  * Spark's `percentile()` aggregate in the fence idiom.
  *
  * `percentile(v, p)` buffers every distinct value of `v` in ONE
  * OpenHashMap on the final reducer: correct and fast while the value
  * domain is small, but a corpus-keyed metric (per-customer cent
  * totals at 10⁹ users ≈ 10⁸⁺ distinct longs) turns that buffer into
  * a multi-GB single-node hashmap that silently OOMs at 100× — the
  * plan LOOKS shuffle-free and bounded, and isn't.
  *
  * This helper computes the SAME linear-interpolation order statistic
  * (Spark `percentile` == DuckDB `quantile_cont`: position
  * h = (n−1)·p, result = v⌊h⌋₊₁ + (h−⌊h⌋)·(v⌊h⌋₊₂ − v⌊h⌋₊₁) over the
  * sorted multiset) in TWO bounded passes — the x_ccnet_buckets
  * bucketed-histogram idiom generalized to interpolated ranks:
  *
  *   1. bucket histogram: `v div width` folds the domain to at most
  *      domain/width buckets per key group — map-side combined, and
  *      the per-key cumulative window runs over THAT bounded relation,
  *      never the data;
  *   2. boundary-bucket rank: only rows whose bucket contains a target
  *      rank survive a broadcast semi-join (at most 2·|percentiles|
  *      buckets per key), and the exact value at each rank comes from
  *      a distinct-value cumulative count WITHIN the bucket — at most
  *      `width` distinct longs per group, whatever the corpus.
  *
  * Interpolation is exact integer arithmetic: p = num/den, the lower
  * rank is ⌊(n−1)·num/den⌋+1, the fraction is ((n−1)·num mod den)/den,
  * and the scaled value v_lo·den + (v_hi−v_lo)·rem is a plain long —
  * one final double division by `den` (true percentiles here are
  * multiples of 1/den, so `round(·, 4)` lands on the same 4-decimal
  * value DuckDB's `round(quantile_cont(·), 4)` produces). The double
  * conversion before that division caps exactness at |v_lo·den| < 2⁵³
  * — the same magnitude limit as the `percentile()` double result this
  * replaces, stated here so nobody reads "exact" as "128-bit".
  *
  * Memory bound: histogram ≤ domain/width rows per key, pass 2 ≤ width
  * distinct values per boundary bucket — pick width ≈ √domain. Values
  * must be LONGs. Negative values stay EXACT without any offset:
  * `div` truncates toward zero, which is still monotone non-decreasing
  * in v, so buckets remain contiguous ranges — bucket 0 just spans
  * (−width, width), doubling its pass-2 bound to ≤ 2·width−1 distinct
  * values. `offset` (subtracted back exactly in the output) exists to
  * keep that bound tight on signed domains, not for correctness.
  *
  * COST contract: the input is scanned TWICE (pass-1 histogram, pass-2
  * boundary probe) and most call sites scan it a third time for the
  * fence test — pass a materialized relation ([[memoInput]]). The
  * pass-1 cumulative relation is eagerly checkpointed here (it feeds
  * the totals, targets and boundary subtrees — uncheckpointed it
  * would re-run the histogram aggregate 3-4×), released via
  * [[graft.CacheBook]] under `scope`.
  */
object BoundedPercentile {

  /** One requested percentile p = num/den, emitted as column `name`. */
  final case class Spec(name: String, num: Int, den: Int) {
    require(num >= 0 && num <= den && den > 0, s"bad percentile $num/$den")
  }

  /** Eagerly materialize a fence input once (localCheckpoint) and
    * register its release under the family `scope` — the memo
    * discipline the d_* and s_* families follow. Call sites that scan the
    * same relation for the downstream fence test share this one
    * materialization instead of re-running the upstream pipeline per
    * pass (q_mad's per-user aggregate was re-computed ~5-6× before). */
  def memoInput(df: DataFrame, scope: String): DataFrame = {
    graft.CacheBook.keep(df.sparkSession, scope)(df.localCheckpoint(true))
  }

  /** @param df      input relation (pass a materialized one — see the
    *                COST contract above and [[memoInput]])
    * @param keys    group-by key columns (empty = one global group)
    * @param vcol    LONG value column
    * @param specs   percentiles to emit
    * @param width   bucket width (≈ √domain); bounds both passes
    * @param offset  added before bucketing, subtracted back in output
    *                (keeps the bucket-0 pass-2 bound tight on signed
    *                domains; correctness holds without it)
    * @param countCol also emit the group row count under this name
    * @param scope   CacheBook scope releasing the internal checkpoint
    * @return one row per key group: keys ++ [countCol] ++ spec names
    *         (round-4 DOUBLEs, the repo's quantile output contract)
    */
  def fences(df: DataFrame, keys: Seq[String], vcol: String,
      specs: Seq[Spec], width: Long, offset: Long = 0L,
      countCol: Option[String] = None, scope: String = "q"): DataFrame = {
    require(width > 0)
    fencesBy(df, keys, vcol, specs, lit(width), offset, countCol, scope)
  }

  /** [[fences]] with a PER-KEY bucket width: `widthOf` is a positive
    * LONG expression over the input columns that must be constant
    * within each key group (buckets of one group must share one
    * width). This is the multi-metric fuse — unpivot several metrics
    * into (metric, value) rows, key by metric, give each metric its
    * own width, and ONE histogram checkpoint + ONE boundary pass
    * serves every metric (q_rfm paid three of each before). */
  def fencesBy(df: DataFrame, keys: Seq[String], vcol: String,
      specs: Seq[Spec], widthOf: Column, offset: Long = 0L,
      countCol: Option[String] = None, scope: String = "q"): DataFrame = {
    require(specs.nonEmpty)
    val kc = keys.map(col)
    val joinOn = keys :+ "__bkt"

    val b = df.select(kc :+ (col(vcol) + lit(offset)).as("__v")
        :+ widthOf.as("__w"): _*)
      .withColumn("__bkt", expr("__v div __w"))

    // pass 1: bounded bucket histogram + cumulative counts (the window
    // runs over ≤ domain/width rows per key — postcard-sized at 100 TB).
    // Checkpointed EAGERLY: three downstream subtrees (totals, targets,
    // boundary) consume it, and each would otherwise re-run the full
    // histogram aggregate over the input.
    val hist = b.groupBy(joinOn.dropRight(1).map(col) :+ col("__bkt"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val hcum = memoInput(hist
      .withColumn("__cum",
        sum("__cnt").over(Window.partitionBy(kc: _*).orderBy("__bkt")))
      .withColumn("__n", sum("__cnt").over(Window.partitionBy(kc: _*)))
      .withColumn("__cb", col("__cum") - col("__cnt")), scope)

    // per-key totals and the 2·|specs| target ranks (lo = ⌊h⌋+1;
    // hi = lo+1 clamped to n — unused when the fraction is 0)
    val nk = hcum.groupBy(kc: _*).agg(max("__n").as("__n"))
    val targetStructs = specs.flatMap { sp =>
      val r1 = expr(s"((__n - 1) * ${sp.num}) div ${sp.den} + 1")
      Seq(
        struct(lit(sp.name + ":lo").as("__tag"), r1.as("__r")),
        struct(lit(sp.name + ":hi").as("__tag"),
          least(r1 + lit(1L), col("__n")).as("__r")))
    }
    val targets = nk.select(kc :+ explode(array(targetStructs: _*)).as("__t"): _*)
      .select(kc :+ col("__t.__tag").as("__tag") :+ col("__t.__r").as("__r"): _*)

    // boundary buckets: tiny × tiny join (histogram × targets)
    val onKeys = (l: DataFrame, r: DataFrame) =>
      if (keys.isEmpty) l.join(broadcast(r)) else l.join(broadcast(r), keys)
    val boundary = onKeys(hcum, targets)
      .filter(col("__cb") < col("__r") && col("__r") <= col("__cum"))
      .select(kc :+ col("__bkt") :+ col("__tag")
        :+ (col("__r") - col("__cb")).as("__lr"): _*)

    // pass 2: only boundary-bucket rows survive the broadcast join;
    // the in-bucket distinct-value window holds ≤ width longs per group
    val bset = boundary.select(joinOn.map(col): _*).distinct()
    val vh = b.join(broadcast(bset), joinOn)
      .groupBy(joinOn.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__ci",
        sum("__c").over(Window.partitionBy(joinOn.map(col): _*).orderBy("__v")))
    val picked = vh.join(broadcast(boundary), joinOn)
      .filter(col("__ci") - col("__c") < col("__lr") && col("__lr") <= col("__ci"))
      .select(kc :+ col("__tag") :+ col("__v"): _*)

    // pivot the ≤ 2·|specs| picked rows per key and interpolate in
    // exact long arithmetic; ONE double division by den at the end
    val pivots = specs.flatMap { sp =>
      Seq(max(when(col("__tag") === (sp.name + ":lo"), col("__v"))).as(s"__lo_${sp.name}"),
        max(when(col("__tag") === (sp.name + ":hi"), col("__v"))).as(s"__hi_${sp.name}"))
    }
    val wide =
      if (keys.isEmpty) picked.agg(pivots.head, pivots.tail: _*)
      else picked.groupBy(kc: _*).agg(pivots.head, pivots.tail: _*)

    val outCols = kc ++
      countCol.map(n => col("__n").as(n)).toSeq ++
      specs.map { sp =>
        val rem = expr(s"((__n - 1) * ${sp.num}) % ${sp.den}")
        val lo = col(s"__lo_${sp.name}")
        val hi = col(s"__hi_${sp.name}")
        round((lo * lit(sp.den.toLong) + (hi - lo) * rem
          - lit(offset * sp.den)) / lit(sp.den.toDouble), 4).as(sp.name)
      }
    onKeys(wide, nk).select(outCols: _*)
  }
}
