package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The K-nearest-centroid kernel of every assignment/probe pass as ONE
  * native codegen Expression: for each input vector, rank a FIXED
  * centroid bank (a per-plan constant, exactly the relation the old
  * plan broadcast) and return the top-N centroid ids in rank order.
  *
  * Replaces the `input ⋈ broadcast(centroids)` + `row_number() OVER
  * (PARTITION BY vec_id ORDER BY score, cid)` idiom, which materialized
  * N×K rows and SORTED every K-row group just to keep 1-3 of them —
  * at decade scale the s_index_build assignment spent its whole wall
  * in that exchange+sort. Here the K-loop runs inside the row's
  * projection: no row explosion, no window exchange, no sort.
  *
  * BIT-EXACTNESS (the oracle contract): scores accumulate in exactly
  * the IEEE order of the expressions they replace —
  *   - cosine: [[DotProduct.dot]]'s left-to-right 0.0-seeded loop over
  *     min(len) elements, then one division by (n * cn) — identical to
  *     `VecOps.cosine(v, cv, n, cn)`;
  *   - dot: the same loop, no division — identical to the unrolled
  *     `subDot` chain on equal-length arrays;
  *   - l2: left-to-right sum of (a-b)*(a-b) — identical to `subL2`.
  * The rank order replicates Spark's SQL double ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN greatest, -0.0 == 0.0) with
  * the cid-ascending tie-break, so the selected ids — and every result
  * hash downstream — are unchanged row for row.
  *
  * The bank rides the expression as a reference object (k·dim doubles,
  * the same bytes the broadcast shipped), selected per row by the
  * `bankSel` child — 0 for single-bank callers, the subspace id for the
  * PQ codebook. Null in any child returns null (the old join dropped
  * such rows the same way; corpus vectors are never null). */
case class NearestCentroids(vec: Expression, norm: Expression,
    bankSel: Expression, bank: CentroidBank, topN: Int)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = norm
  override def third: Expression = bankSel

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override protected def nullSafeEval(v: Any, n: Any, b: Any): Any =
    bank.nearest(v.asInstanceOf[ArrayData],
      n.asInstanceOf[Double], b.asInstanceOf[Int], topN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bank", bank, classOf[CentroidBank].getName)
    nullSafeCodeGen(ctx, ev, (v, n, b) =>
      s"${ev.value} = $ref.nearest($v, $n, $b, $topN);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): NearestCentroids =
    copy(vec = newFirst, norm = newSecond, bankSel = newThird)
}

/** The constant centroid data: `banks` banks of `k` centroids of `dim`
  * components, flattened row-major; `cids(bank*k + j)` is centroid j's
  * id, `cns` its norm (cosine metric only). Centroids within a bank
  * MUST be sorted by cid ascending — the tie-break relies on it. */
final class CentroidBank(val cids: Array[Long], val flat: Array[Double],
    val cns: Array[Double], val banks: Int, val k: Int, val dim: Int,
    val metric: Int) extends Serializable {
  require(cids.length == banks * k && flat.length == banks * k * dim,
    s"bank shape mismatch: ${cids.length} ids, ${flat.length} comps for " +
      s"banks=$banks k=$k dim=$dim")
  require(metric != CentroidBank.Cosine || cns.length == cids.length)
  locally { // cid-ascending within each bank: the tie-break contract
    var b = 0
    while (b < banks) {
      var j = 1
      while (j < k) {
        require(cids(b * k + j - 1) < cids(b * k + j),
          s"bank $b not cid-ascending at $j")
        j += 1
      }
      b += 1
    }
  }

  override def toString: String =
    s"bank(banks=$banks,k=$k,dim=$dim," +
      s"metric=${CentroidBank.name(metric)})"
  // the plan-string identity of a bank: constant banks compare by shape
  // + content hash, never by reference (plans print it; nothing else
  // depends on equality)
  override def hashCode: Int =
    (java.util.Arrays.hashCode(cids) * 31 + java.util.Arrays.hashCode(flat)) * 31 +
      metric
  override def equals(o: Any): Boolean = o match {
    case that: CentroidBank =>
      banks == that.banks && k == that.k && dim == that.dim &&
        metric == that.metric &&
        java.util.Arrays.equals(cids, that.cids) &&
        java.util.Arrays.equals(flat, that.flat) &&
        java.util.Arrays.equals(cns, that.cns)
    case _ => false
  }

  /** Spark's SQL double ordering (SQLOrderingUtil.compareDoubles):
    * NaN greatest, -0.0 == 0.0 — the window ORDER BY this replaces. */
  private def cmp(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1 else if (x == y) 0
    else if (java.lang.Double.isNaN(x)) { if (java.lang.Double.isNaN(y)) 0 else 1 }
    else -1

  /** Top-`topN` centroid ids of `v`'s bank in rank order (score
    * best-first, cid ascending on ties). */
  def nearest(v: ArrayData, n: Double, bankIdx: Int, topN: Int): ArrayData = {
    require(bankIdx >= 0 && bankIdx < banks, s"bank $bankIdx outside 0..${banks - 1}")
    val off = bankIdx * k
    val keep = math.min(topN, k)
    val topCid = new Array[Long](keep)
    val topScore = new Array[Double](keep)
    var filled = 0
    val lim = math.min(dim, v.numElements())
    var j = 0
    while (j < k) {
      val base = (off + j) * dim
      var acc = 0.0
      var i = 0
      if (metric == CentroidBank.L2) {
        while (i < lim) {
          val d = v.getDouble(i) - flat(base + i); acc += d * d; i += 1
        }
      } else {
        while (i < lim) { acc += v.getDouble(i) * flat(base + i); i += 1 }
      }
      val score =
        if (metric == CentroidBank.Cosine) acc / (n * cns(off + j)) else acc
      // candidate beats slot s iff strictly better (iteration is
      // cid-ascending, so equal scores keep the earlier cid)
      val beats =
        if (filled < keep) true
        else if (metric == CentroidBank.L2) cmp(score, topScore(keep - 1)) < 0
        else cmp(score, topScore(keep - 1)) > 0
      if (beats) {
        var s = if (filled < keep) filled else keep - 1
        // shift down while the new score outranks the slot above
        while (s > 0 && (if (metric == CentroidBank.L2)
            cmp(score, topScore(s - 1)) < 0
          else cmp(score, topScore(s - 1)) > 0)) {
          topScore(s) = topScore(s - 1); topCid(s) = topCid(s - 1); s -= 1
        }
        topScore(s) = score; topCid(s) = cids(off + j)
        if (filled < keep) filled += 1
      }
      j += 1
    }
    val out = new Array[Long](filled)
    System.arraycopy(topCid, 0, out, 0, filled)
    new GenericArrayData(out)
  }
}

object CentroidBank {
  val Cosine = 0 // rank by dot/(n*cn) descending
  val Dot = 1 // rank by raw dot descending
  val L2 = 2 // rank by squared L2 ascending
  def name(m: Int): String = m match {
    case Cosine => "cosine"; case Dot => "dot"; case L2 => "l2"
  }
}

object NearestCentroids {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lit

  private def column(e: Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  private def pack(rows: Seq[(Int, Long, Array[Double], Double)],
      metric: Int): CentroidBank = {
    require(rows.nonEmpty, "empty centroid bank")
    val sorted = rows.sortBy(r => (r._1, r._2))
    val banks = sorted.map(_._1).distinct.length
    require(sorted.map(_._1).distinct == (0 until banks),
      "bank ids must be 0..banks-1")
    val k = sorted.length / banks
    require(k * banks == sorted.length, "ragged banks")
    val dim = sorted.head._3.length
    val cids = sorted.map(_._2).toArray
    val flat = new Array[Double](banks * k * dim)
    sorted.zipWithIndex.foreach { case ((_, _, cv, _), idx) =>
      require(cv.length == dim, "ragged centroid dims")
      System.arraycopy(cv, 0, flat, idx * dim, dim)
    }
    val cns = if (metric == CentroidBank.Cosine) sorted.map(_._4).toArray
      else Array.emptyDoubleArray
    new CentroidBank(cids, flat, cns, banks, k, dim, metric)
  }

  /** Single cosine bank from (cid, cv, cn) rows (any order). */
  def cosineBank(rows: Seq[(Long, Array[Double], Double)]): CentroidBank =
    pack(rows.map(r => (0, r._1, r._2, r._3)), CentroidBank.Cosine)

  /** Single raw-dot bank from (cid, cv) rows (any order). */
  def dotBank(rows: Seq[(Long, Array[Double])]): CentroidBank =
    pack(rows.map(r => (0, r._1, r._2, 0.0)), CentroidBank.Dot)

  /** Multi-bank L2 codebook from (bank, code, cv) rows (any order). */
  def l2Banks(rows: Seq[(Int, Long, Array[Double])]): CentroidBank =
    pack(rows.map(r => (r._1, r._2, r._3, 0.0)), CentroidBank.L2)

  /** `topN` nearest cids of `v` (array<double>) as array<long>. `n` is
    * the precomputed vector norm (cosine only; pass 1.0 otherwise),
    * `sel` the bank selector (int; 0 for single-bank). */
  def nearest(bank: CentroidBank, v: Column, topN: Int,
      n: Column = lit(1.0), sel: Column = lit(0)): Column =
    column(NearestCentroids(expr(v), expr(n.cast("double")),
      expr(sel), bank, topN))
}
