package graft.agg

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Input row for moment aggregation: a (possibly time-lagged) pair with an
  * optional statistical weight. For plain (unlagged) covariance pass y = x. */
case class LagRow(x: Array[Double], y: Array[Double], w: Double)

/** Mergeable raw-moment buffer with Kahan-compensated accumulation.
  *
  * Reference semantics: `moments_XXXY` (covariance/util/_moments.py:687-833)
  * + pairwise `Moments.combine` (covariance/util/_running_moments.py:37-59)
  * + Kahan summation (src/include/deeptime/numeric/kahan_summation.h).
  *
  * Spark-first design: this is exactly Spark's partial-aggregation contract —
  * `reduce` runs map-side per partition, `merge` is the combine tree
  * (the analog of deeptime's MomentsStorage pairwise merging, but with the
  * tree depth managed by Spark's exec instead of an `ncov` knob).
  * All state is O(d^2) doubles, independent of row count, so a 100 TB scan
  * aggregates into a few KB per task.
  *
  * Numerics: raw sums with Neumaier (improved Kahan) compensation: each
  * sum keeps a running total and the exact rounding error of every
  * addition, `mergeIn` carries the other buffer's error along, and
  * finalize adds it back. The total is then the correctly rounded sum in
  * practice, whatever the partitioning and merge order, so a mean that
  * sits on a 6-dp rounding boundary rounds the same way on every layout
  * (plain Kahan that dropped the merged buffers' compensation flipped
  * q03's m0_3 between partitionings). Centering happens once at finalize
  * (Bessel applied there too, cf. _running_moments.py:69-85).
  */
case class MomentsBuf(
    var w: Double, var n: Long, var d: Int,
    var sx: Array[Double], var sxc: Array[Double],
    var sy: Array[Double], var syc: Array[Double],
    var sxx: Array[Double], var sxxc: Array[Double],
    var sxy: Array[Double], var sxyc: Array[Double],
    var syy: Array[Double], var syyc: Array[Double],
    var wc: Double) {

  def init(dim: Int): Unit = if (d == 0 && dim > 0) {
    d = dim
    sx = new Array[Double](dim); sxc = new Array[Double](dim)
    sy = new Array[Double](dim); syc = new Array[Double](dim)
    val dd = dim * dim
    sxx = new Array[Double](dd); sxxc = new Array[Double](dd)
    sxy = new Array[Double](dd); sxyc = new Array[Double](dd)
    syy = new Array[Double](dd); syyc = new Array[Double](dd)
  }

  /** The rounding error of `a + b` (which rounds to `t`), exactly. */
  @inline private def err(a: Double, b: Double, t: Double): Double =
    if (math.abs(a) >= math.abs(b)) (a - t) + b else (b - t) + a

  @inline private def kadd(s: Array[Double], c: Array[Double], i: Int, v: Double): Unit = {
    val t = s(i) + v
    c(i) += err(s(i), v, t)
    s(i) = t
  }

  @inline private def addWeight(v: Double, vc: Double): Unit = {
    val t = w + v
    wc += err(w, v, t) + vc
    w = t
  }

  def add(x: Array[Double], y: Array[Double], weight: Double): Unit = {
    init(x.length)
    addWeight(weight, 0.0)
    n += 1
    var i = 0
    while (i < d) {
      kadd(sx, sxc, i, weight * x(i))
      kadd(sy, syc, i, weight * y(i))
      var j = 0
      val base = i * d
      while (j < d) {
        kadd(sxx, sxxc, base + j, weight * x(i) * x(j))
        kadd(sxy, sxyc, base + j, weight * x(i) * y(j))
        kadd(syy, syyc, base + j, weight * y(i) * y(j))
        j += 1
      }
      i += 1
    }
  }

  def mergeIn(o: MomentsBuf): Unit = {
    if (o.d == 0) return
    init(o.d)
    addWeight(o.w, o.wc)
    n += o.n
    def merge(s: Array[Double], c: Array[Double], os: Array[Double], oc: Array[Double]): Unit = {
      var k = 0
      while (k < s.length) { kadd(s, c, k, os(k)); c(k) += oc(k); k += 1 }
    }
    merge(sx, sxc, o.sx, o.sxc); merge(sy, syc, o.sy, o.syc)
    merge(sxx, sxxc, o.sxx, o.sxxc); merge(sxy, sxyc, o.sxy, o.sxyc)
    merge(syy, syyc, o.syy, o.syyc)
  }

  /** The compensated totals: weight, then each sum plus its error. */
  def totalWeight: Double = w + wc
  def total(s: Array[Double], c: Array[Double]): Array[Double] =
    Array.tabulate(s.length)(k => s(k) + c(k))
}

object MomentsBuf {
  def empty: MomentsBuf = MomentsBuf(0.0, 0L, 0,
    Array.empty, Array.empty, Array.empty, Array.empty,
    Array.empty, Array.empty, Array.empty, Array.empty,
    Array.empty, Array.empty, 0.0)
}

/** Finalized covariance model (reference `CovarianceModel`,
  * covariance/_covariance.py:66-185): means and the three covariance blocks.
  * Matrices are row-major flat d*d arrays; driver-side linalg converts to
  * Breeze. */
case class CovarianceModel(
    weight: Double, count: Long, d: Int,
    mean0: Array[Double], meant: Array[Double],
    cov00: Array[Double], cov0t: Array[Double], covtt: Array[Double]) {
  def covAt(m: Array[Double], i: Int, j: Int): Double = m(i * d + j)
}

/** Typed Aggregator producing a CovarianceModel in one distributed pass.
  * `bessel`: sample (N-1) vs population (N) normalization — deeptime default
  * bessels_correction=True (covariance/_covariance.py:240). */
class MomentsAggregator(bessel: Boolean = true)
    extends Aggregator[LagRow, MomentsBuf, CovarianceModel] {

  def zero: MomentsBuf = MomentsBuf.empty
  def reduce(b: MomentsBuf, r: LagRow): MomentsBuf = { b.add(r.x, r.y, r.w); b }
  def merge(a: MomentsBuf, b: MomentsBuf): MomentsBuf = { a.mergeIn(b); a }

  def finish(b: MomentsBuf): CovarianceModel = {
    val d = b.d
    if (d == 0) return CovarianceModel(0, 0, 0, Array.empty, Array.empty,
      Array.empty, Array.empty, Array.empty)
    val wSum = b.totalWeight
    val denom = if (bessel) wSum - 1.0 else wSum
    val m0 = b.total(b.sx, b.sxc).map(_ / wSum)
    val mt = b.total(b.sy, b.syc).map(_ / wSum)
    def cov(s: Array[Double], ma: Array[Double], mb: Array[Double]) =
      Array.tabulate(d * d) { k =>
        val i = k / d; val j = k % d
        (s(k) - wSum * ma(i) * mb(j)) / denom
      }
    CovarianceModel(wSum, b.n, d,
      m0, mt,
      cov(b.total(b.sxx, b.sxxc), m0, m0), cov(b.total(b.sxy, b.sxyc), m0, mt),
      cov(b.total(b.syy, b.syyc), mt, mt))
  }

  def bufferEncoder: Encoder[MomentsBuf] = Encoders.product[MomentsBuf]
  def outputEncoder: Encoder[CovarianceModel] = Encoders.product[CovarianceModel]
}

/** Covariance estimator façade (reference `Covariance`,
  * covariance/_covariance.py:186-523). */
object Covariance {

  /** Fit from a pair frame with columns x: ARRAY<DOUBLE>, y: ARRAY<DOUBLE>
    * (use Lag.pairs; pass x=y for unlagged) and optional weight column. */
  def fit(pairs: DataFrame, weightCol: Option[String] = None,
          bessel: Boolean = true): CovarianceModel =
    fitPlan(pairs, weightCol, bessel).head()

  /** The aggregation PLAN `fit` executes, exposed for the scale audits:
    * moments100 walks the executed plan to pin that the only thing
    * crossing an exchange is the per-partition MomentsBuf partials
    * (O(partitions) rows of d^2 sums), never the feature vectors. */
  private[graft] def fitPlan(pairs: DataFrame, weightCol: Option[String] = None,
                             bessel: Boolean = true): org.apache.spark.sql.Dataset[CovarianceModel] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val wcol = weightCol.map(col).getOrElse(lit(1.0))
    val ds = pairs.select(
      col("x").cast("array<double>").as("x"),
      col("y").cast("array<double>").as("y"),
      wcol.cast("double").as("w")).as[LagRow]
    ds.select(new MomentsAggregator(bessel).toColumn)
  }

  /** Per-group covariances in ONE pass (e.g. cross-validation folds,
    * per-ensemble statistics): groupByKey over `keyCol` with the same
    * mergeable buffer — k models from a single scan instead of k scans. */
  def fitByKey(pairs: DataFrame, keyCol: String, weightCol: Option[String] = None,
               bessel: Boolean = true): Map[Long, CovarianceModel] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val wcol = weightCol.map(col).getOrElse(lit(1.0))
    val agg = new MomentsAggregator(bessel)
    pairs.select(
        col(keyCol).cast("long").as("k"),
        col("x").cast("array<double>").as("x"),
        col("y").cast("array<double>").as("y"),
        wcol.cast("double").as("w"))
      .as[(Long, Array[Double], Array[Double], Double)]
      .groupByKey(_._1)
      .mapValues { case (_, x, y, w) => LagRow(x, y, w) }
      .agg(agg.toColumn)
      .collect()
      .toMap
  }

  /** Complement model by moment subtraction: the covariance of
    * (total \ part) WITHOUT another scan — the inverse of the Chan
    * combine. Used by cross-validation: test-fold covariance = total -
    * train, halving the aggregation passes.
    *
    * Numerical shape: all second moments are reconstructed CENTERED AT THE
    * TOTAL MEANS before subtracting (for any fixed center c the shifted
    * sums S(c) = sum (x_i - c_a)(y_i - c_b) are additive over disjoint row
    * sets). Subtracting RAW (zero-centered) moments instead would difference
    * two near-equal ~w*mean^2 quantities and reintroduce exactly the
    * catastrophic cancellation the centered-at-finalize aggregator avoids
    * (reference float64 policy, covariance/util/_moments.py:1-17). */
  def subtractModel(total: CovarianceModel, part: CovarianceModel,
                    bessel: Boolean = true): CovarianceModel = {
    val d = total.d
    require(part.d == d, "dimension mismatch")
    val w = total.weight - part.weight
    val n = total.count - part.count
    val denom = if (bessel) w - 1.0 else w
    // means subtract via weighted sums (mild cancellation only: the two
    // terms differ by O(w) not O(w * mean))
    val m0 = Array.tabulate(d)(i =>
      (total.mean0(i) * total.weight - part.mean0(i) * part.weight) / w)
    val mt = Array.tabulate(d)(i =>
      (total.meant(i) * total.weight - part.meant(i) * part.weight) / w)
    // shifted second-moment sums about center (ca, cb) = total means:
    // S_m(c) = cov_m * denom_m + w_m (mean_a - c_a)(mean_b - c_b)
    def shifted(m: CovarianceModel, c: Array[Double], ma: Array[Double],
                mb: Array[Double], ca: Array[Double], cb: Array[Double]): Array[Double] = {
      val dm = if (bessel) m.weight - 1.0 else m.weight
      Array.tabulate(d * d) { k =>
        val i = k / d; val j = k % d
        c(k) * dm + m.weight * (ma(i) - ca(i)) * (mb(j) - cb(j))
      }
    }
    def diff(get: CovarianceModel => Array[Double],
             maT: Array[Double], mbT: Array[Double],
             maP: Array[Double], mbP: Array[Double],
             ma: Array[Double], mb: Array[Double],
             ca: Array[Double], cb: Array[Double]) = {
      val st = shifted(total, get(total), maT, mbT, ca, cb)
      val sp = shifted(part, get(part), maP, mbP, ca, cb)
      // re-center the complement from c to its own means:
      // S_test(own) = S_test(c) - w (m_a - c_a)(m_b - c_b)
      Array.tabulate(d * d) { k =>
        val i = k / d; val j = k % d
        (st(k) - sp(k) - w * (ma(i) - ca(i)) * (mb(j) - cb(j))) / denom
      }
    }
    CovarianceModel(w, n, d, m0, mt,
      diff(_.cov00, total.mean0, total.mean0, part.mean0, part.mean0,
        m0, m0, total.mean0, total.mean0),
      diff(_.cov0t, total.mean0, total.meant, part.mean0, part.meant,
        m0, mt, total.mean0, total.meant),
      diff(_.covtt, total.meant, total.meant, part.meant, part.meant,
        mt, mt, total.meant, total.meant))
  }

  /** Unlagged covariance of the canonical trajectory frame. */
  def fitFeatures(traj: DataFrame, bessel: Boolean = true): CovarianceModel = {
    val p = traj.select(col(graft.core.Trajectories.FeatCol).as("x"))
      .withColumn("y", col("x"))
    fit(p, None, bessel)
  }

  /** Constant-column sparsification (reference covariance/util/_moments.py
    * :22-58 `sparsify`): detect constant feature dimensions with one cheap
    * min/max pass, aggregate moments only over the varying subset (the
    * O(d_var^2) gemm instead of O(d^2)), and reconstitute the full model —
    * constant dims contribute zero covariance and their constant mean.
    * Pays off when <= ~50% of columns vary (the reference's empirical
    * threshold); callers can force either path. */
  def fitFeaturesSparse(traj: DataFrame, d: Int, bessel: Boolean = true,
                        tol: Double = 0.0): CovarianceModel = {
    val featCol = graft.core.Trajectories.FeatCol
    val aggs = (0 until d).flatMap(i => Seq(
      min(col(featCol).getItem(i)).as(s"mn$i"),
      max(col(featCol).getItem(i)).as(s"mx$i")))
    val r = traj.agg(aggs.head, aggs.tail: _*).collect()(0)
    if (r.isNullAt(0)) // empty input frame
      return CovarianceModel(0, 0, d, new Array[Double](d), new Array[Double](d),
        new Array[Double](d * d), new Array[Double](d * d), new Array[Double](d * d))
    val mins = Array.tabulate(d)(i => r.getDouble(2 * i))
    val maxs = Array.tabulate(d)(i => r.getDouble(2 * i + 1))
    val varying = (0 until d).filter(i => maxs(i) - mins(i) > tol).toArray
    if (varying.length == d) return fitFeatures(traj, bessel)
    if (varying.isEmpty) {
      // every dimension constant: zero covariance, means = the constants,
      // weight/count from a plain count (an empty-subset aggregate would
      // report weight 0)
      val n = traj.count()
      return CovarianceModel(n.toDouble, n, d, mins.clone, mins.clone,
        new Array[Double](d * d), new Array[Double](d * d), new Array[Double](d * d))
    }
    val sub = fitFeatures(
      graft.core.Trajectories.selectColumns(traj, varying.toIndexedSeq), bessel)
    // reconstitute full-width model
    val mean = new Array[Double](d)
    (0 until d).foreach(i => mean(i) = mins(i)) // constant dims: the constant
    varying.zipWithIndex.foreach { case (full, s) => mean(full) = sub.mean0(s) }
    def expand(c: Array[Double]): Array[Double] = {
      val out = new Array[Double](d * d)
      for (a <- varying.indices; b <- varying.indices)
        out(varying(a) * d + varying(b)) = c(a * sub.d + b)
      out
    }
    CovarianceModel(sub.weight, sub.count, d, mean, mean,
      expand(sub.cov00), expand(sub.cov0t), expand(sub.covtt))
  }
}
