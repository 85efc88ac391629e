package graft.util

import breeze.linalg.{DenseMatrix, DenseVector, norm}
import org.apache.spark.sql.DataFrame
import graft.core.Trajectories.{TrajCol, TimeCol, FeatCol}
import graft.lag.TrajectoryScan

/** Derivative estimation beyond plain windows (reference util/diff.py):
  * Fornberg finite-difference weights on arbitrary grids and the
  * total-variation-regularized derivative of Chartrand (2011), "Numerical
  * differentiation of noisy, nonsmooth data" — the denoising derivative
  * SINDy needs on noisy observations (reference tv_derivative,
  * util/diff.py:138).
  *
  * Scale shape: TV regularization solves a dense (T+1)^2 linear system per
  * iteration, so it is a MODERATE-T-per-trajectory algorithm by
  * construction (the reference's own test grid is T=400, dense solve each
  * step). The distributed surface `tvDerivativeFrame` therefore runs ONE
  * TRAJECTORY PER GROUP on executors (the same fan-out contract as the HMM
  * forward-backward and the simulators): 100k trajectories of 1k frames
  * parallelize across the cluster; a single 100M-frame trajectory is the
  * wrong input for TV and should use the windowed central difference. */
object Diff {

  /** Fornberg (1988, SIAM Rev. 30:4) finite-difference weights: w such
    * that f^(k)(xBar) ~ w . f(xs), for arbitrary sorted grid nodes. */
  def fdCoefficients(xBar: Double, xs: Array[Double], k: Int = 1): Array[Double] = {
    val n = xs.length
    require(n > k, s"need more than k=$k grid nodes, got $n")
    val m = k
    val c = DenseMatrix.zeros[Double](n, m + 1)
    var c1 = 1.0
    var c4 = xs(0) - xBar
    c(0, 0) = 1.0
    for (i <- 1 until n) {
      val mn = math.min(i, m)
      var c2 = 1.0
      val c5 = c4
      c4 = xs(i) - xBar
      for (j <- 0 until i) {
        val c3 = xs(i) - xs(j)
        c2 *= c3
        if (j == i - 1) {
          for (s <- mn to 1 by -1)
            c(i, s) = c1 * (s * c(i - 1, s - 1) - c5 * c(i - 1, s)) / c2
          c(i, 0) = -c1 * c5 * c(i - 1, 0) / c2
        }
        for (s <- mn to 1 by -1)
          c(j, s) = (c4 * c(j, s) - s * c(j, s - 1)) / c3
        c(j, 0) = c4 * c(j, 0) / c3
      }
      c1 = c2
    }
    Array.tabulate(n)(i => c(i, m))
  }

  /** numpy.gradient with unit spacing and second-order one-sided edges. */
  private[util] def gradient(y: Array[Double]): Array[Double] = {
    val n = y.length
    require(n >= 3, "gradient with edge_order=2 needs >= 3 points")
    Array.tabulate(n) { i =>
      if (i == 0) (-3.0 * y(0) + 4.0 * y(1) - y(2)) / 2.0
      else if (i == n - 1) (3.0 * y(n - 1) - 4.0 * y(n - 2) + y(n - 3)) / 2.0
      else (y(i + 1) - y(i - 1)) / 2.0
    }
  }

  /** Finite-difference operator on the midpoint grid: (n-1) x n matrix
    * whose row r approximates d/dx at 0.5*(xs[r]+xs[r+1]) from a
    * fixed-width window of 2*radius+1 nodes (diff.py
    * finite_difference_operator_midpoints). Dense — T is moderate. */
  private def fdOperatorMidpoints(xs: Array[Double], radius: Int): DenseMatrix[Double] = {
    val nNodes = xs.length
    val width = 2 * radius + 1
    require(nNodes >= width, s"need >= $width nodes for radius $radius")
    val out = DenseMatrix.zeros[Double](nNodes - 1, nNodes)
    for (row <- 0 until nNodes - 1) {
      val start = math.min(math.max(row - radius, 0), nNodes - width)
      val windowGrid = Array.tabulate(width)(i => xs(start + i))
      val w = fdCoefficients(0.5 * (xs(row) + xs(row + 1)), windowGrid, 1)
      for (i <- 0 until width) out(row, start + i) = w(i)
    }
    out
  }

  /** Cumulative trapezoid operator: (n-1) x n matrix A with
    * (A u)_r ~ integral of u from xs[0] to xs[r+1]. */
  private def cumtrapzOperator(xs: Array[Double]): DenseMatrix[Double] = {
    val n = xs.length
    val a = DenseMatrix.zeros[Double](n - 1, n)
    for (row <- 0 until n - 1) {
      val dx = xs(row + 1) - xs(row)
      if (row > 0) for (c <- 0 to row) a(row, c) = a(row - 1, c)
      a(row, row) += 0.5 * dx
      a(row, row + 1) = 0.5 * dx
    }
    a
  }

  /** Total-variation regularized derivative (Chartrand 2011; reference
    * util/diff.py:138): minimize ||A u - (y - y0)||^2 + alpha TV(u) over
    * the derivative u on the midpoint grid, via the lagged-diffusivity
    * fixed point (linearized Euler-Lagrange solve per iteration); the
    * result is projected back onto the grid points. */
  def tvDerivative(xs: Array[Double], ys: Array[Double], u0: Option[Array[Double]] = None,
                   alpha: Double = 10.0, tol: Double = -1.0, maxIt: Int = 1000,
                   fdWindowRadius: Int = 5, epsilon: Double = 1e-6): Array[Double] = {
    require(alpha > 0, "regularization parameter must be positive")
    val n = ys.length
    require(xs.length == n, "grid and data must have equal length")
    val mid = new Array[Double](n + 1)
    mid(0) = xs(0) - 0.5 * (xs(1) - xs(0))
    for (i <- 1 until n) mid(i) = 0.5 * (xs(i) + xs(i - 1))
    mid(n) = xs(n - 1) + 0.5 * (xs(n - 1) - xs(n - 2))

    val diff = fdOperatorMidpoints(mid, fdWindowRadius) // n x (n+1)
    val diffT = diff.t
    val a = cumtrapzOperator(mid) // n x (n+1)
    val at = a.t
    val ata = at * a

    var u: DenseVector[Double] = u0 match {
      case Some(g) if g.length == n + 1 => DenseVector(g.clone())
      case Some(g) =>
        val arr = new Array[Double](n + 1)
        for (i <- 1 until n) arr(i) = 0.5 * (g(i) + g(i - 1))
        DenseVector(arr)
      case None =>
        val df = gradient(ys)
        val arr = new Array[Double](n + 1)
        for (i <- 1 until n) arr(i) = 0.5 * (df(i) + df(i - 1))
        DenseVector(arr)
    }
    val aadjOffset = at * DenseVector.tabulate(n)(i => ys(0) - ys(i))
    val midDiff = gradient(mid) // length n+1; first n entries feed E

    var it = 0
    var done = false
    while (it < maxIt && !done) {
      val gu = gradient(u.toArray)
      // E = diag over the n GRID rows (reference builds an (n,n) diagonal
      // from the first n entries of the (n+1)-length vector)
      val en = Array.tabulate(n)(r => midDiff(r) / math.sqrt(gu(r) * gu(r) + epsilon))
      val enDiff = DenseMatrix.tabulate(n, n + 1)((r, c) => en(r) * diff(r, c))
      val l = diffT * enDiff // (n+1) x (n+1)
      val g = (ata * u) + aadjOffset + (l * u) * alpha
      val lhs = (l * alpha) + ata
      val s = lhs \ (-g)
      // convergence measure: FULL update norm over solution norm. (The
      // reference computes np.linalg.norm(s[0]) — the first COMPONENT of
      // the np.linalg.solve result — which can fire a premature exit when
      // only the left-boundary midpoint has settled; deliberate divergence
      // for robustness, the looser reference check only stops EARLIER.)
      val relChange = norm(s) / norm(u)
      u = u + s
      it += 1
      if (tol > 0 && relChange < tol) done = true
    }
    Array.tabulate(n)(i => 0.5 * (u(i + 1) + u(i)))
  }

  /** Distributed per-trajectory TV derivative of every feature dimension:
    * one trajectory per task item ([[graft.lag.TrajectoryScan.vectors]]),
    * emits (traj_id, t, xdot). Frames are the unit grid t = 0..T-1 scaled
    * by `dt`. */
  def tvDerivativeFrame(traj: DataFrame, dim: Int, alpha: Double = 10.0,
                        tol: Double = 1e-5, maxIt: Int = 100, dt: Double = 1.0,
                        fdWindowRadius: Int = 5): DataFrame = {
    val spark = traj.sparkSession
    import spark.implicits._
    TrajectoryScan.vectors(traj, FeatCol, "Diff.tvDerivativeFrame").flatMap { case (id, ts, frames) =>
      val t = frames.length
      if (t < 2 * fdWindowRadius + 2) Iterator.empty // too short for the operator
      else {
        val xs = Array.tabulate(t)(i => i * dt)
        val perDim = (0 until dim).map { d =>
          tvDerivative(xs, frames.map(_(d)), None, alpha, tol, maxIt, fdWindowRadius)
        }
        ts.indices.iterator.map(i => (id, ts(i), Array.tabulate(dim)(d => perDim(d)(i))))
      }
    }.toDF(TrajCol, TimeCol, "xdot")
  }
}
