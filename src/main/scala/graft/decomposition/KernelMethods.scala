package graft.decomposition

import scala.collection.mutable
import breeze.linalg.{DenseMatrix, DenseVector, *, sum => bsum}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import graft.agg.Covariance
import graft.basis.Observable
import graft.kernels.Kernel
import graft.lag.{Lag, TrajectoryScan}
import graft.linalg.LinAlg
import graft.core.Trajectories.FeatCol

/** EDMD — extended dynamic mode decomposition (reference
  * decomposition/_dmd.py:251-334 `EDMD`; Williams et al. 2015).
  *
  * Distributed shape: the basis lift Psi is a codegen column expression
  * applied map-side; ONE covariance aggregation produces the p x p raw
  * moment blocks; the pinv + eig run on the driver at p x p (library size,
  * not data size). Identical scan cost to plain DMD regardless of library
  * width. */
object Edmd {

  case class EdmdModel(operator: Array[Double], p: Int,
                       eigenvaluesRe: Array[Double], eigenvaluesIm: Array[Double],
                       /** eigenvectors in LAPACK real-encoded layout, p x p col-major pairs */
                       modes: Array[Double],
                       basis: Observable, inputDim: Int) {
    /** |lambda| magnitudes, sorted desc. */
    def eigenvalueMagnitudes: Array[Double] =
      eigenvaluesRe.indices.map(i => math.hypot(eigenvaluesRe(i), eigenvaluesIm(i)))
        .toArray.sorted(Ordering[Double].reverse)
  }

  /** `operator`: 'koopman' (default) or 'perron-frobenius' (_dmd.py:282). */
  def fit(traj: DataFrame, basis: Observable, tau: Int, inputDim: Int,
          operator: String = "koopman"): EdmdModel =
    fitWithCov(traj, basis, tau, inputDim, operator)._1

  /** `fit` that also returns the lifted-pair covariance the solve consumed
    * — callers auditing the normal equations (q49) check against it
    * directly instead of paying a second full lift+aggregate scan. */
  def fitWithCov(traj: DataFrame, basis: Observable, tau: Int, inputDim: Int,
                 operator: String = "koopman"): (EdmdModel, graft.agg.CovarianceModel) = {
    val p = basis.outputDim(inputDim)
    val pairs = Lag.pairs(traj, tau)
      .select(basis(col("x").cast("array<double>"), inputDim).as("x"),
        basis(col("y").cast("array<double>"), inputDim).as("y"))
    val cov = Covariance.fit(pairs, bessel = false)
    val w = cov.weight
    // raw (uncentered) second moments, normalized by N as the reference does
    def raw(c: Array[Double], ma: Array[Double], mb: Array[Double]) =
      DenseMatrix.tabulate(p, p)((i, j) => c(i * p + j) + ma(i) * mb(j))
    val c00 = raw(cov.cov00, cov.mean0, cov.mean0)
    val c0tK = raw(cov.cov0t, cov.mean0, cov.meant)
    val c0t = if (operator == "koopman") c0tK else c0tK.t
    val m = breeze.linalg.pinv(c00) * c0t
    val e = breeze.linalg.eig(m)
    // sort by magnitude desc (reference sort_eigs lexicographic on -|..|)
    val idx = (0 until p).sortBy(i => -math.hypot(e.eigenvalues(i), e.eigenvaluesComplex(i)))
    val vecs = DenseMatrix.zeros[Double](p, p)
    idx.zipWithIndex.foreach { case (src, dst) => vecs(::, dst) := e.eigenvectors(::, src) }
    (EdmdModel(LinAlg.toFlat(m), p,
      idx.map(e.eigenvalues(_)).toArray, idx.map(e.eigenvaluesComplex(_)).toArray,
      LinAlg.toFlat(vecs), basis, inputDim), cov)
  }
}

/** Shared helper: deterministic size-capped landmark sample of lagged
  * pairs, collected to the driver for T x T gram-matrix methods. The cap is
  * the scale contract: kernel-gram methods are inherently O(T^2) memory, so
  * at 100 TB they run on a bounded landmark subset (Nystrom regime).
  *
  * The draw is a bottom-k hash sample (the mergeable sampling sketch): one
  * [[TrajectoryScan.fold]] pairs each frame x with the frame `tau` later in
  * its trajectory (a ring of `tau` frames, as `Lag.pairs` pairs them) and
  * keeps, per partition, the `maxRows` pairs with the smallest
  * `xxhash64(traj_id, t, seed)` of x, ties broken by (traj_id, t); merging
  * two such sets keeps the smallest `maxRows` of their union. So the
  * landmarks, and their order (ascending by that key), do not depend on
  * how the input is partitioned. A pair with a null x or y is skipped. */
object KernelData {

  /** One candidate landmark pair and its sample key. */
  private final case class Landmark(hash: Long, id: Long, t: Long,
                                    x: Array[Double], y: Array[Double])

  private val byKey: Ordering[Landmark] = Ordering.by((l: Landmark) => (l.hash, l.id, l.t))

  /** The pairs of `traj`'s `featCol` at lag `tau` with the `maxRows`
    * smallest keys, as (xs, ys) in key order. */
  def collectPairs(traj: DataFrame, tau: Int, maxRows: Int, seed: Long = 42L,
                   featCol: String = FeatCol): (Array[Array[Double]], Array[Array[Double]]) = {
    require(tau > 0 && maxRows > 0, "KernelData.collectPairs: requires tau > 0 and maxRows > 0")
    // per partition: the current trajectory's last `tau` frames (t, x)
    // and a max-heap holding the `maxRows` smallest keys seen so far
    final class Acc extends Serializable {
      val ts = new Array[Long](tau)
      val xs = new Array[Array[Double]](tau)
      var pos = 0L
      val heap = mutable.PriorityQueue.empty[Landmark](byKey)
      def offer(l: Landmark): Unit =
        if (heap.size < maxRows) heap += l
        else if (byKey.lt(l, heap.head)) { heap.dequeue(); heap += l }
    }
    val acc = TrajectoryScan.fold(traj, Seq(col(featCol).cast("array<double>")),
        s"KernelData landmarks (tau=$tau, maxRows=$maxRows)")(new Acc) { (a, r, first) =>
      if (first) a.pos = 0L
      val slot = (a.pos % tau).toInt
      val y = if (r.isNullAt(2)) null else r.getArray(2).toDoubleArray()
      if (a.pos >= tau && a.xs(slot) != null && y != null) {
        val id = if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
        val t = a.ts(slot)
        // xxhash64(traj_id, t, seed): Spark's hash chain from seed 42,
        // skipping a null traj_id as Spark does
        val h0 = if (r.isNullAt(0)) 42L else XXH64.hashLong(id, 42L)
        a.offer(Landmark(XXH64.hashLong(seed, XXH64.hashLong(t, h0)), id, t, a.xs(slot), y))
      }
      a.ts(slot) = if (r.isNullAt(1)) Long.MinValue else r.getLong(1)
      a.xs(slot) = y
      a.pos += 1
    } { (a, b) => b.heap.foreach(a.offer); a }
    val picked = acc.heap.toArray.sorted(byKey)
    (picked.map(_.x), picked.map(_.y))
  }
}

/** Kernel EDMD (reference decomposition/_dmd.py:335-423 `KernelEDMD`):
  * A = (G_XX + eps I)^{-1} G_XY^T, eigendecomposition on the landmark set. */
object KernelEdmd {

  case class KernelEdmdModel(landmarks: Array[Array[Double]], kernel: Kernel,
                             eigenvaluesRe: Array[Double], eigenvaluesIm: Array[Double],
                             eigenvectors: DenseMatrix[Double]) {
    /** Eigenfunction evaluation at new points: k(x, landmarks) @ V. */
    def transformPoint(x: Array[Double]): Array[Double] = {
      val kv = DenseVector(landmarks.map(l => kernel.applyArrays(x, l)))
      (eigenvectors.t * kv).toArray
    }
  }

  def fit(traj: DataFrame, kernel: Kernel, tau: Int, epsilon: Double = 0.0,
          maxLandmarks: Int = 500, seed: Long = 42L): KernelEdmdModel = {
    val (xs, ys) = KernelData.collectPairs(traj, tau, maxLandmarks, seed)
    val n = xs.length
    val g0 = DenseMatrix.tabulate(n, n)((i, j) => kernel.applyArrays(xs(i), xs(j)))
    val g1 = DenseMatrix.tabulate(n, n)((i, j) => kernel.applyArrays(xs(i), ys(j)))
    val reg = g0 + DenseMatrix.eye[Double](n) * epsilon
    val a = reg \ g1.t
    val e = breeze.linalg.eig(a)
    val idx = (0 until n).sortBy(i => -math.hypot(e.eigenvalues(i), e.eigenvaluesComplex(i)))
    val vecs = DenseMatrix.zeros[Double](n, n)
    idx.zipWithIndex.foreach { case (src, dst) => vecs(::, dst) := e.eigenvectors(::, src) }
    KernelEdmdModel(xs, kernel,
      idx.map(e.eigenvalues(_)).toArray, idx.map(e.eigenvaluesComplex(_)).toArray, vecs)
  }
}

/** Kernel CCA (reference decomposition/_cca.py:51 `KernelCCA`; Bach &
  * Jordan 2002): centered gram matrices, A = (G0+eps)^{-1} G0 (G1+eps)^{-1} G1,
  * leading eigenpairs. */
object KernelCca {

  case class KernelCcaModel(landmarks: Array[Array[Double]], kernel: Kernel,
                            eigenvalues: Array[Double], eigenvectors: DenseMatrix[Double]) {
    def transformPoint(x: Array[Double]): Array[Double] = {
      val kv = DenseVector(landmarks.map(l => kernel.applyArrays(x, l)))
      (eigenvectors.t * kv).toArray
    }
  }

  def fit(traj: DataFrame, kernel: Kernel, tau: Int, nEigs: Int,
          epsilon: Double = 1e-6, maxLandmarks: Int = 500, seed: Long = 42L): KernelCcaModel = {
    val (xs, ys) = KernelData.collectPairs(traj, tau, maxLandmarks, seed)
    val n = xs.length
    val g0raw = DenseMatrix.tabulate(n, n)((i, j) => kernel.applyArrays(xs(i), xs(j)))
    val g1raw = DenseMatrix.tabulate(n, n)((i, j) => kernel.applyArrays(ys(i), ys(j)))
    // centering N = I - 1/n
    val cmat = DenseMatrix.eye[Double](n) - DenseMatrix.fill[Double](n, n)(1.0 / n)
    val g0 = cmat * g0raw * cmat
    val g1 = cmat * g1raw * cmat
    val eye = DenseMatrix.eye[Double](n)
    val k = (g0 + eye * epsilon) \ g0
    val ak = (g1 + eye * epsilon) \ g1
    val a = k * ak
    val e = breeze.linalg.eig(a)
    val idx = (0 until n).sortBy(i => -math.hypot(e.eigenvalues(i), e.eigenvaluesComplex(i)))
      .take(math.min(nEigs, n))
    val vecs = DenseMatrix.zeros[Double](n, idx.length)
    idx.zipWithIndex.foreach { case (src, dst) => vecs(::, dst) := e.eigenvectors(::, src) }
    KernelCcaModel(xs, kernel, idx.map(e.eigenvalues(_)).toArray, vecs)
  }
}

/** KVAD — kernel embedding based variational approach for dynamical systems
  * (reference decomposition/_kvad.py:60; Tian & Wu 2020).
  *
  * The feature side (observable transform chi + whitening + final koopman
  * matrix) is exact and data-distributed (ONE covariance pass); only the
  * G_yy gram enters through the landmark subset. */
object Kvad {

  case class KvadModel(singularValues: Array[Double],
                       singularVectors: DenseMatrix[Double],
                       koopmanMatrix: DenseMatrix[Double],
                       score: Double,
                       /** landmark-subset size the gram side actually used
                         * (the KernelData cap contract, audited by
                         * kernel100) */
                       nLandmarks: Int)

  def fit(traj: DataFrame, kernel: Kernel, tau: Int, chi: Observable,
          inputDim: Int, dim: Int = -1, epsilon: Double = 1e-6,
          maxLandmarks: Int = 500, seed: Long = 42L): KvadModel = {
    val chiDim = chi.outputDim(inputDim)
    // landmark sample for chi_x, chi_y, and y (gram side)
    val (xs, ys) = KernelData.collectPairs(traj, tau, maxLandmarks, seed)
    val n = xs.length
    def lift(rows: Array[Array[Double]]): DenseMatrix[Double] = {
      // driver-side evaluation of the observable on the landmark set: reuse
      // the column expression via local spark-free evaluation (identity and
      // monomials have simple array semantics)
      val out = DenseMatrix.zeros[Double](n, chiDim)
      rows.zipWithIndex.foreach { case (r, i) =>
        val lifted = liftRow(chi, r, inputDim)
        (0 until chiDim).foreach(j => out(i, j) = lifted(j))
      }
      out
    }
    val chiX = lift(xs)
    val chiY = lift(ys)
    // whiten chi_x by its covariance (reference cov.whiten)
    val mean = DenseVector.tabulate(chiDim)(j => bsum(chiX(::, j)) / n)
    val centered = chiX(*, ::) - mean
    val cov = (centered.t * centered) / (n - 1.0)
    val w = LinAlg.spdInvSqrt(cov, epsilon)
    val chiXw = (chiX(*, ::) - mean) * w
    val chiYw = (chiY(*, ::) - mean) * w
    val gyy = DenseMatrix.tabulate(n, n)((i, j) => kernel.applyArrays(ys(i), ys(j)))
    val xgx = (chiXw.t * gyy * chiXw) / (n.toDouble * n)
    val (svals, svecs) = LinAlg.spdEig(xgx, epsilon)
    val kk = if (dim > 0) math.min(dim, svals.length) else svals.length
    val sv = svals(0 until kk).copy
    val u = svecs(::, 0 until kk).copy
    val fX = chiXw * u
    val fY = chiYw * u
    val km = DenseMatrix.zeros[Double](kk + 1, kk + 1)
    km(0, 0) = 1.0
    val meanYw = DenseVector.tabulate(chiXw.cols)(j => bsum(chiYw(::, j)) / n)
    val topRight = u.t * meanYw
    (0 until kk).foreach(j => km(0, j + 1) = topRight(j))
    val block = (fX.t * fY) / n.toDouble
    (0 until kk).foreach(i => (0 until kk).foreach(j => km(i + 1, j + 1) = block(i, j)))
    val score = bsum(sv) + bsum(gyy) / (n.toDouble * n)
    KvadModel(sv.toArray, u, km, score, n)
  }

  /** Evaluate an Observable on a single driver-side row by round-tripping
    * through the same exponent structure (supports Identity/Monomials and
    * compositions thereof). */
  private[decomposition] def liftRow(chi: Observable, x: Array[Double], d: Int): Array[Double] =
    chi match {
      case graft.basis.Identity => x
      case m: graft.basis.Monomials =>
        m.exponents(d).map { exps =>
          exps.zipWithIndex.foldLeft(1.0) { case (acc, (e, i)) => acc * math.pow(x(i), e) }
        }.toArray
      case c: graft.basis.Concatenation =>
        val inner = liftRow(c.g, x, d)
        liftRow(c.f, inner, c.g.outputDim(d))
      case other => throw new IllegalArgumentException(
        s"driver-side lift unsupported for $other")
    }
}
