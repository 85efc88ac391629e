package graft.markov

import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}

/** Augmented Markov models — MSM estimation biased toward experimental
  * observable measurements (reference markov/msm/_augmented_msm.py:20-613
  * `AMMOptimizerState` / `AugmentedMSMEstimator`; Olsson et al. PNAS 2017).
  *
  * Driver-side on the n x n count matrix; the data-sized inputs
  * (count matrix, per-state expectations) come from the distributed
  * counting/aggregation jobs. */
object Amm {

  case class AmmModel(transitionMatrix: DenseMatrix[Double],
                      stationaryDistribution: DenseVector[Double],
                      lagrange: DenseVector[Double],
                      logLikelihoods: Seq[Double]) {
    def msm(tau: Int = 1): MarkovStateModel = MarkovStateModel(transitionMatrix, tau)
  }

  /** Count-matrix log likelihood sum C_ij ln T_ij (msmest.log_likelihood). */
  private def logLikelihood(c: DenseMatrix[Double], t: DenseMatrix[Double]): Double = {
    var ll = 0.0
    for (i <- 0 until c.rows; j <- 0 until c.cols if c(i, j) > 0 && t(i, j) > 0)
      ll += c(i, j) * math.log(t(i, j))
    ll
  }

  /** Internal optimizer state (AMMOptimizerState). */
  private class State(val e: DenseMatrix[Double],      // n x K expectations by state
                      val m: DenseVector[Double],      // K experimental measurements
                      val w: DenseVector[Double],      // K measurement weights
                      pi0: DenseVector[Double],
                      val cSym: DenseMatrix[Double],
                      val cRowSums: DenseVector[Double]) {
    val n: Int = e.rows
    val nK: Int = e.cols
    var lagrange: DenseVector[Double] = DenseVector.zeros[Double](nK)
    var pi: DenseVector[Double] = pi0.copy
    var piHat: DenseVector[Double] = pi0.copy
    var mHat: DenseVector[Double] = DenseVector.zeros[Double](nK)
    var slopeObs: DenseVector[Double] = DenseVector.zeros[Double](nK)
    var deltaMHat: DenseVector[Double] = DenseVector.fill(nK)(Double.MaxValue)
    var q: DenseMatrix[Double] = DenseMatrix.zeros[Double](n, n)
    var g: DenseMatrix[Double] = DenseMatrix.zeros[Double](nK, nK)
    var x: DenseMatrix[Double] = DenseMatrix.zeros[Double](n, n)
    var llPrev: Double = Double.NegativeInfinity
    val logLikelihoods: scala.collection.mutable.ArrayBuffer[Double] =
      scala.collection.mutable.ArrayBuffer.empty

    def updatePiHat(): Unit = {
      val expons = DenseVector.tabulate(n)(j =>
        (0 until nK).map(k => lagrange(k) * e(j, k)).sum)
      val mx = breeze.linalg.max(expons)
      val unnorm = DenseVector.tabulate(n)(j => pi(j) * math.exp(expons(j) - mx))
      piHat = unnorm / bsum(unnorm)
    }

    def updateMHat(): Unit = {
      mHat = e.t * piHat
      slopeObs = mHat - m
    }

    /** R_k(i,j) = pehat_ik + pehat_jk - (piHat_i + piHat_j) mHat_k; Q is the
      * weighted sum -2 sum_k w_k slope_k R_k (update_R_slices/update_Q). */
    def updateQ(): Unit = {
      q = DenseMatrix.zeros[Double](n, n)
      for (k <- 0 until nK) {
        val wk = w(k) * slopeObs(k)
        if (wk != 0.0) {
          for (i <- 0 until n; j <- 0 until n) {
            val rk = piHat(i) * e(i, k) + piHat(j) * e(j, k) -
              (piHat(i) + piHat(j)) * mHat(k)
            q(i, j) += wk * rk
          }
        }
      }
      q :*= -2.0
    }

    def updateXAndPi(): Unit = {
      val cOverPi = DenseVector.tabulate(n)(i => cRowSums(i) / pi(i))
      val d = DenseMatrix.tabulate(n, n)((i, j) => cOverPi(i) + cOverPi(j) + q(i, j))
      x = DenseMatrix.tabulate(n, n)((i, j) => if (d(i, j) != 0) cSym(i, j) / d(i, j) else 0.0)
      x :/= bsum(x)
      pi = DenseVector.tabulate(n)(i => bsum(x(i, ::).t))
    }

    def updateG(): Unit = {
      g = DenseMatrix.tabulate(nK, nK) { (a, b) =>
        (0 until n).map(i => e(i, a) * e(i, b) * piHat(i)).sum - mHat(a) * mHat(b)
      }
    }

    def llBiased(c: DenseMatrix[Double], t: DenseMatrix[Double]): Double = {
      val bias = (0 until nK).map(k => w(k) * slopeObs(k) * slopeObs(k)).sum
      logLikelihood(c, t) - bias
    }
  }

  /** Constrained update of the Lagrange multipliers (`_newton_lagrange`):
    * gradient step with a true backtracking line search — the step is
    * accepted only if the biased likelihood does not decrease and pi_hat
    * stays positive, otherwise the fraction shrinks (x0.1) and the step is
    * retried from the previous multipliers. This implements the documented
    * contract of the reference ("constrained by strictly improving the AMM
    * likelihood", _augmented_msm.py:406-409); the reference's literal loop
    * updates its reference value inside the body which disables the
    * backtrack and lets large steps oscillate. */
  private def newtonLagrange(s: State, c: DenseMatrix[Double]): Unit = {
    val lOld = s.lagrange.copy
    val mHatOld = s.mHat.copy
    val llRef = s.llPrev
    s.updatePiHat()
    s.updateG()
    val dl = DenseVector.tabulate(s.nK) { j =>
      2.0 * (0 until s.nK).map(k => s.g(k, j) * s.w(k) * s.slopeObs(k)).sum
    }
    var frac = 1.0
    var llNew = Double.NegativeInfinity
    var accepted = false
    while (!accepted && frac >= 1e-12) {
      s.lagrange = lOld - dl * frac
      s.updatePiHat()
      // shrink further while pi_hat collapses below support
      while ((0 until s.n).exists(s.piHat(_) < 1e-12) && frac > 1e-12) {
        frac *= 0.5
        s.lagrange = lOld - dl * frac
        s.updatePiHat()
      }
      s.updateMHat()
      s.updateQ()
      s.updateXAndPi()
      val t = DenseMatrix.tabulate(s.n, s.n)((i, j) => s.x(i, j) / s.pi(i))
      llNew = s.llBiased(c, t)
      if (llNew >= llRef - 1e-12) accepted = true
      else frac *= 0.1
    }
    if (!accepted) {
      // no improving step exists: stay at the previous multipliers
      s.lagrange = lOld
      s.updatePiHat(); s.updateMHat(); s.updateQ(); s.updateXAndPi()
      val t = DenseMatrix.tabulate(s.n, s.n)((i, j) => s.x(i, j) / s.pi(i))
      llNew = s.llBiased(c, t)
    }
    s.deltaMHat = s.mHat - mHatOld
    s.llPrev = llNew
    s.logLikelihoods += llNew
  }

  /** Fit an AMM from a count matrix, per-state expectation matrix E
    * (n x K), measured values m (K) and weights w (K, typically
    * 1/sigma_k^2). */
  def fit(counts: DenseMatrix[Double], expectationsByState: DenseMatrix[Double],
          measurements: DenseVector[Double], weights: DenseVector[Double],
          maxIter: Int = 500, eps: Double = 0.05): AmmModel = {
    val n = counts.rows
    val t0 = TransitionMatrixMle.reversible(counts)
    val pi0 = graft.linalg.LinAlg.stationaryDistribution(t0)
    val cSym = (counts + counts.t) * 0.5
    val cRowSums = DenseVector.tabulate(n)(i => bsum(counts(i, ::).t))
    val s = new State(expectationsByState, measurements, weights, pi0, cSym, cRowSums)

    s.logLikelihoods += s.llBiased(counts, t0)
    s.updatePiHat(); s.updateMHat(); s.updateQ(); s.updateXAndPi()
    s.llPrev = s.llBiased(counts, t0)
    s.updateG()

    val uncertainties = DenseVector.tabulate(s.nK)(k =>
      if (weights(k) > 0) math.sqrt(1.0 / 2.0 / weights(k)) else 1.0)
    // which measurements fall outside the support of the per-state
    // expectation values (reference: percentile CI over E columns decides
    // the convergence criterion)
    val anyOutside = (0 until s.nK).exists { k =>
      val (lo, hi) = graft.util.Stats.confidenceInterval(
        (0 until n).map(i => expectationsByState(i, k)), 0.6827)
      measurements(k) < lo || measurements(k) > hi
    }
    var converged = false
    var die = false
    var i = 0
    while (i <= maxIter && !die) {
      val piHatOld = s.piHat.copy
      s.updatePiHat()
      if ((0 until n).exists(s.piHat(_) <= 0)) { s.piHat = piHatOld; die = true }
      s.updateMHat()
      s.updateQ()
      if (i > 1) {
        val xOld = s.x.copy
        s.updateXAndPi()
        if ((0 until n).exists(a => (0 until n).exists(b =>
          cSym(a, b) != 0 && s.x(a, b) < 0))) { s.x = xOld; die = true }
      }
      if (!die) {
        if (!converged) newtonLagrange(s, counts)
        else {
          val t = DenseMatrix.tabulate(n, n)((a, b) => s.x(a, b) / s.pi(a))
          s.logLikelihoods += s.llBiased(counts, t)
        }
        val lls = s.logLikelihoods
        // reference: delta-m-hat criterion ONLY when a measurement is
        // outside the expectation support; otherwise the ll criterion
        // (_augmented_msm.py:585-593)
        if (!converged) {
          if (anyOutside) {
            if (i > 1 && (0 until s.nK).forall(k =>
              math.abs(s.deltaMHat(k)) / uncertainties(k) < eps)) converged = true
          } else if (lls.length >= 2 &&
            math.abs(lls(lls.length - 2) - lls.last) < 1e-8) converged = true
        }
        if (converged && lls.length >= 2 &&
            math.abs(lls(lls.length - 2) - lls.last) < 1e-8)
          die = true
      }
      i += 1
    }
    // final: reversible MLE with the biased stationary distribution fixed
    val tFinal = MsmAnalysis.reversibleMleFixedPi(counts, s.piHat, maxIter = 100000)
    AmmModel(tFinal, s.piHat, s.lagrange, s.logLikelihoods.toSeq)
  }
}
