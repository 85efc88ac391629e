package graft.markov.hmm

import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import graft.lag.TrajectoryScan
import graft.lag.TrajectoryScan.Sequence
import graft.markov.{MarkovStateModel, Pcca, TransitionCounting, TransitionMatrixMle, Msm}
import graft.util.Transport

/** Hidden Markov model with discrete output
  * (reference markov/hmm/_maximum_likelihood_hmm.py:224-423,
  * _output_model.py DiscreteOutputModel, _hidden_markov_model.py).
  *
  * Distributed shape (SURVEY §3 E3): the EM loop runs on the driver; each
  * iteration is ONE shuffle-free pass over the trajectories, grouped once
  * by [[graft.lag.TrajectoryScan.states]] and cached; each runs the scaled
  * forward-backward recursion locally and emits O(m^2 + m*nObs)
  * sufficient statistics, which `reduce` merges
  * tree-wise. Model state (A, B, pi) ships as a closure broadcast. Gamma
  * trajectories are never materialized globally.
  */
object Hmm {

  case class HmmModel(
      transition: DenseMatrix[Double],   // m x m hidden chain
      emission: DenseMatrix[Double],     // m x nObs
      initial: DenseVector[Double],      // m
      logLikelihood: Double,
      iterations: Int)

  /** Per-trajectory E-step sufficient statistics. */
  case class EStats(loglik: Double, xi: Array[Double], gammaObs: Array[Double],
                    gamma0: Array[Double], nTraj: Long) {
    def merge(o: EStats): EStats = {
      var i = 0
      val x = xi.clone; val g = gammaObs.clone; val g0 = gamma0.clone
      while (i < x.length) { x(i) += o.xi(i); i += 1 }
      i = 0; while (i < g.length) { g(i) += o.gammaObs(i); i += 1 }
      i = 0; while (i < g0.length) { g0(i) += o.gamma0(i); i += 1 }
      EStats(loglik + o.loglik, x, g, g0, nTraj + o.nTraj)
    }
  }

  /** Scaled forward-backward for one observation sequence; returns
    * sufficient statistics (C++ kernel parity:
    * markov/hmm/src/hmm_module.cpp forward/backward). */
  private[hmm] def forwardBackward(obs: Array[Int], a: Array[Double], b: Array[Double],
                      pi: Array[Double], m: Int, nObs: Int): EStats = {
    val tLen = obs.length
    val alpha = Array.ofDim[Double](tLen, m)
    val beta = Array.ofDim[Double](tLen, m)
    val scale = new Array[Double](tLen)
    // forward with scaling
    var s0 = 0.0
    var i = 0
    while (i < m) { alpha(0)(i) = pi(i) * b(i * nObs + obs(0)); s0 += alpha(0)(i); i += 1 }
    scale(0) = if (s0 > 0) s0 else 1e-300
    i = 0; while (i < m) { alpha(0)(i) /= scale(0); i += 1 }
    var t = 1
    while (t < tLen) {
      var st = 0.0
      var j = 0
      while (j < m) {
        var acc = 0.0
        var k = 0
        while (k < m) { acc += alpha(t - 1)(k) * a(k * m + j); k += 1 }
        val v = acc * b(j * nObs + obs(t))
        alpha(t)(j) = v; st += v
        j += 1
      }
      scale(t) = if (st > 0) st else 1e-300
      j = 0; while (j < m) { alpha(t)(j) /= scale(t); j += 1 }
      t += 1
    }
    // backward (scaled by same factors)
    i = 0; while (i < m) { beta(tLen - 1)(i) = 1.0 / scale(tLen - 1); i += 1 }
    t = tLen - 2
    while (t >= 0) {
      var k = 0
      while (k < m) {
        var acc = 0.0
        var j = 0
        while (j < m) { acc += a(k * m + j) * b(j * nObs + obs(t + 1)) * beta(t + 1)(j); j += 1 }
        beta(t)(k) = acc / scale(t)
        k += 1
      }
      t -= 1
    }
    // statistics
    val xi = new Array[Double](m * m)
    val gammaObs = new Array[Double](m * nObs)
    val gamma0 = new Array[Double](m)
    t = 0
    while (t < tLen) {
      // gamma_t(i) ∝ alpha_t(i) * beta_t(i) (normalize for safety)
      var z = 0.0
      var j = 0
      while (j < m) { z += alpha(t)(j) * beta(t)(j) * scale(t); j += 1 }
      if (z <= 0) z = 1.0
      j = 0
      while (j < m) {
        val g = alpha(t)(j) * beta(t)(j) * scale(t) / z
        gammaObs(j * nObs + obs(t)) += g
        if (t == 0) gamma0(j) = g
        j += 1
      }
      t += 1
    }
    t = 0
    while (t < tLen - 1) {
      var k = 0
      while (k < m) {
        var j = 0
        while (j < m) {
          xi(k * m + j) += alpha(t)(k) * a(k * m + j) * b(j * nObs + obs(t + 1)) * beta(t + 1)(j)
          j += 1
        }
        k += 1
      }
      t += 1
    }
    val ll = scale.map(math.log).sum
    EStats(ll, xi, gammaObs, gamma0, 1L)
  }

  /** Viterbi most-likely hidden path (log-space DP;
    * _hidden_markov_model.py:14 + C++). */
  private[hmm] def viterbiPath(obs: Array[Int], a: Array[Double], b: Array[Double],
                  pi: Array[Double], m: Int, nObs: Int): Array[Int] = {
    val tLen = obs.length
    val logA = a.map(v => math.log(math.max(v, 1e-300)))
    val logB = b.map(v => math.log(math.max(v, 1e-300)))
    val delta = Array.ofDim[Double](tLen, m)
    val psi = Array.ofDim[Int](tLen, m)
    var i = 0
    while (i < m) { delta(0)(i) = math.log(math.max(pi(i), 1e-300)) + logB(i * nObs + obs(0)); i += 1 }
    var t = 1
    while (t < tLen) {
      var j = 0
      while (j < m) {
        var best = Double.NegativeInfinity; var arg = 0
        var k = 0
        while (k < m) {
          val v = delta(t - 1)(k) + logA(k * m + j)
          if (v > best) { best = v; arg = k }
          k += 1
        }
        delta(t)(j) = best + logB(j * nObs + obs(t))
        psi(t)(j) = arg
        j += 1
      }
      t += 1
    }
    val path = new Array[Int](tLen)
    path(tLen - 1) = (0 until m).maxBy(delta(tLen - 1)(_))
    t = tLen - 2
    while (t >= 0) { path(t) = psi(t + 1)(path(t + 1)); t -= 1 }
    path
  }

  /** Initial model from the MSM+PCCA heuristic
    * (markov/hmm/init/discrete/_init_discrete_impl.py
    * `metastable_from_data`, default mode 'largest-regularized'). */
  def initialGuess(dtraj: DataFrame, nHidden: Int, nObs: Int, lagtime: Int,
                   separate: Option[Seq[Int]] = None): HmmModel =
    initialGuessFromCounts(TransitionCounting.toDense(
      TransitionCounting.slidingCounts(dtraj, lagtime), nObs), nHidden, nObs,
      lagtime, separate)

  /** Coarse-grain P with memberships M: (M'M)^-1 M'PM, clipped
    * non-negative and row-renormalized (_init_discrete_impl.py:122
    * `_coarse_grain_transition_matrix`). */
  private[hmm] def coarseGrain(p: DenseMatrix[Double],
                               m: DenseMatrix[Double]): DenseMatrix[Double] = {
    val pc = breeze.linalg.inv(m.t * m) * (m.t * p * m)
    for (i <- 0 until pc.rows; j <- 0 until pc.cols if pc(i, j) < 0) pc(i, j) = 0.0
    for (i <- 0 until pc.rows) {
      val s = bsum(pc(i, ::).t)
      if (s > 0) pc(i, ::) :/= s else pc(i, i) = 1.0
    }
    pc
  }

  /** The full reference init heuristic from an already-collected count
    * matrix (_init_discrete_impl.py `metastable_from_data` →
    * `metastable_from_msm`): neighbor-prior regularization of the counts,
    * largest-connected-set restriction, the disconnected-safe MLE
    * (`TransitionRepair.estimateP` — partial-rev blocks / closed-set
    * reversible), PCCA+ coarse-graining, optional `separate` observed
    * symbols forced into their own (last) hidden state
    * (:85-104, :222-248), reversibility enforcement on closed sets, and
    * eps-regularization of the hidden matrices and output probabilities.
    *
    * `stationary = true` replicates the reference exactly, including
    * `_regularize_hidden`'s no-op stationary branch (:61-64 computes the
    * stationary distribution but never assigns it), so p0 stays the
    * pre-regularization count-weighted stationary vector. */
  def initialGuessFromCounts(counts: breeze.linalg.DenseMatrix[Double],
                             nHidden: Int, nObs: Int, lagtime: Int,
                             separate: Option[Seq[Int]] = None,
                             reversible: Boolean = true,
                             stationary: Boolean = false,
                             regularize: Boolean = true,
                             mode: String = "largest-regularized"): HmmModel = {
    import graft.markov.TransitionRepair
    separate.foreach(sep => require(sep.forall(s => s >= 0 && s < nObs),
      s"separate set has indices outside the full state space [0, $nObs)"))
    val c = counts.copy
    if (mode.endsWith("-regularized")) {
      c :+= TransitionRepair.priorNeighbor(c, 0.001)
      val nonempty = (0 until nObs).filter(i =>
        bsum(c(i, ::).t) + bsum(c(::, i)) > 0)
      for (i <- nonempty) c(i, i) = math.max(c(i, i), 0.001)
    }
    // active set: largest directed connected set (sorted by size, or by
    // population for 'populous'); 'all' keeps every state
    val active: Array[Int] =
      if (mode.startsWith("all")) (0 until nObs).toArray
      else {
        val sets = TransitionRepair.connectedSets(c, directed = true)
        if (mode.startsWith("populous"))
          sets.maxBy(s => s.map(i => bsum(c(i, ::).t)).sum)
        else sets.head
      }
    val cSub = graft.markov.Connectivity.submatrix(c, active)
    val nActive = active.length
    // MSM over the active set (MaximumLikelihoodMSM reversible,
    // allow_disconnected=True, maxerr=1e-3, maxiter=10000)
    val p = TransitionRepair.estimateP(cSub, reversible = true,
      maxIter = 10000, maxErr = 1e-3)
    val statdist = TransitionRepair.stationaryDistributionDisconnected(p, Some(cSub))

    val m = math.min(nHidden, nActive)
    val sepSymbols = separate.map(_.toSet).getOrElse(Set.empty)
    val sepStates = (0 until nActive).filter(i => sepSymbols.contains(active(i)))
    val nonsepStates = (0 until nActive).filterNot(i => sepSymbols.contains(active(i)))
    val useSeparate = separate.isDefined && sepStates.nonEmpty && m >= 2

    // PCCA (or identity when #metastable == #states) on the non-separate MSM
    val nMeta = if (useSeparate) m - 1 else m
    val (nonsepP, nonsepPi) =
      if (useSeparate) {
        val cNs = graft.markov.Connectivity.submatrix(cSub, nonsepStates.toArray)
        val pNs = TransitionRepair.estimateP(cNs, reversible = true)
        (pNs, TransitionRepair.stationaryDistributionDisconnected(pNs, Some(cNs)))
      } else (p, statdist)
    val nNonsep = nonsepStates.length
    // memberships chi (nNonsep x nMeta) and metastable distributions
    // (nMeta x nNonsep)
    val (chi, dists) =
      if (nMeta == nNonsep) (DenseMatrix.eye[Double](nMeta), DenseMatrix.eye[Double](nMeta))
      else if (nMeta == 1) {
        val d = DenseMatrix.zeros[Double](1, nNonsep)
        for (i <- 0 until nNonsep) d(0, i) = nonsepPi(i)
        (DenseMatrix.ones[Double](nNonsep, 1), d / bsum(d))
      } else {
        val pcca = Pcca.fromTransitionMatrix(nonsepP, nonsepPi, nMeta)
        (pcca.memberships, pcca.metastableDistributions)
      }

    // full membership matrix over the active set (:243-248)
    val memberships = DenseMatrix.zeros[Double](nActive, m)
    for ((s, i) <- nonsepStates.zipWithIndex; k <- 0 until nMeta)
      memberships(s, k) = chi(i, k)
    if (useSeparate) for (s <- sepStates) memberships(s, m - 1) = 1.0

    var hiddenT = coarseGrain(p, memberships)
    if (reversible) hiddenT = TransitionRepair.enforceReversibleOnClosed(hiddenT)
    val hiddenCounts = memberships.t * cSub * memberships
    var hiddenPi = TransitionRepair.stationaryDistributionDisconnected(
      hiddenT, Some(hiddenCounts))

    // output probabilities over the FULL observed space (:255-263)
    val b = DenseMatrix.zeros[Double](m, nObs)
    for ((s, i) <- nonsepStates.zipWithIndex; k <- 0 until nMeta)
      b(k, active(s)) = dists(k, i)
    if (useSeparate) for (s <- sepStates) b(m - 1, active(s)) = statdist(s)

    // regularization (_regularize_hidden eps 0.01/n, _regularize_pobs
    // eps 0.01/#active over ALL observed columns)
    if (regularize) {
      val epsA = 0.01 / m
      for (i <- 0 until m; j <- 0 until m) hiddenT(i, j) = math.max(hiddenT(i, j), epsA)
      for (i <- 0 until m) hiddenT(i, ::) :/= bsum(hiddenT(i, ::).t)
      if (reversible) hiddenT = TransitionRepair.enforceReversibleOnClosed(hiddenT)
      if (!stationary) {
        hiddenPi = hiddenPi.map(v => math.max(v, epsA))
        hiddenPi :/= bsum(hiddenPi)
      } // stationary=true: reference regularizes P only, p0 stays (:61-64)
      val epsB = 0.01 / nActive
      if (useSeparate) {
        for (k <- 0 until m - 1; o <- 0 until nObs if !sepSymbols.contains(o))
          b(k, o) = math.max(b(k, o), epsB)
        for (o <- 0 until nObs if sepSymbols.contains(o))
          b(m - 1, o) = math.max(b(m - 1, o), epsB)
      } else {
        for (k <- 0 until m; o <- 0 until nObs) b(k, o) = math.max(b(k, o), epsB)
      }
    }
    for (k <- 0 until m) {
      val s = bsum(b(k, ::).t)
      if (s > 0) b(k, ::) :/= s else b(k, ::) := DenseVector.fill(nObs)(1.0 / nObs).t
    }
    HmmModel(hiddenT, b, hiddenPi, Double.NegativeInfinity, 0)
  }

  /** The state sequences `fit` runs on: those of the frames with
    * t % lagtime == 0. */
  private[hmm] def lagged(dtraj: DataFrame, lagtime: Int, op: String): RDD[Sequence[Int]] =
    TrajectoryScan.states(if (lagtime == 1) dtraj
      else dtraj.where((org.apache.spark.sql.functions.col("t") % lagtime) === 0), op)

  /** Runs `body` over `trajs`, persisted for its duration (the grouping
    * is one shuffle, and every sweep of a fit scans it). */
  private[hmm] def cached[V, R](trajs: RDD[Sequence[V]])(body: RDD[Sequence[V]] => R): R = {
    trajs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(trajs) finally trajs.unpersist(blocking = false)
  }

  /** One M-step from merged E-statistics. */
  private def mStep(stats: EStats, m: Int, nObs: Int, reversible: Boolean,
                    iter: Int): HmmModel = {
    val xiM = graft.linalg.LinAlg.fromFlat(stats.xi, m)
    val aNew = if (reversible) TransitionMatrixMle.reversible(xiM)
               else TransitionMatrixMle.nonReversible(xiM)
    val bNew = DenseMatrix.zeros[Double](m, nObs)
    for (k <- 0 until m) {
      var s = 0.0
      for (o <- 0 until nObs) s += stats.gammaObs(k * nObs + o)
      for (o <- 0 until nObs) bNew(k, o) = if (s > 0) stats.gammaObs(k * nObs + o) / s else 1.0 / nObs
    }
    val piSum = stats.gamma0.sum
    val m0 = m
    val piNew = DenseVector(stats.gamma0.map(v => if (piSum > 0) v / piSum else 1.0 / m0))
    HmmModel(aNew, bNew, piNew, stats.loglik, iter + 1)
  }

  /** Baum-Welch EM. `reversible` applies the detailed-balance MLE to the
    * hidden transition counts in the M-step. Each iteration is one
    * [[graft.util.Transport]] sweep: driver-local at or below
    * `localThreshold` TOTAL observations, else one tagged job reducing
    * only O(m² + m·nObs) statistics (the 100 TB shape hmm100 pins at 15M
    * frames). `localThreshold = 0` forces the distributed leg (q268
    * gates the parity). */
  def fit(dtraj: DataFrame, nHidden: Int, nObs: Int, lagtime: Int = 1,
          maxIter: Int = 100, tol: Double = 1e-6,
          reversible: Boolean = true,
          localThreshold: Long = BayesianHmm.LocalSweepThreshold): HmmModel =
    cached(lagged(dtraj, lagtime, "Hmm.fit")) { trajs =>
      val transport = Transport.byId(trajs, localThreshold)
        .requireNonEmpty("Hmm.fit", NonEmptyStates)
      baumWelch(transport, (t: Sequence[Int]) => t._3,
        initialGuess(dtraj, nHidden, nObs, lagtime), nObs, maxIter, tol, reversible)
    }

  /** What the discrete fits and the sampler require of their frame. */
  private[hmm] val NonEmptyStates = "state trajectory frame (no (traj_id, t, state) rows)"

  /** Driver-local Baum-Welch over already-collected observation arrays:
    * same forward-backward kernel and M-step as `fit`, zero Spark jobs per
    * iteration. For model-sized batteries (q73) that collect the tiny
    * dtraj once and feed several estimators from the same arrays — the
    * distributed `fit` remains the scale path. */
  def fitArrays(obsTrajs: Seq[Array[Int]], nHidden: Int, nObs: Int,
                maxIter: Int = 100, tol: Double = 1e-6,
                reversible: Boolean = true,
                init: Option[HmmModel] = None): HmmModel =
    baumWelch(Transport.local(obsTrajs.toIndexedSeq, unit = 1),
      (obs: Array[Int]) => obs,
      init.getOrElse(initialGuessFromCounts(
        TransitionCounting.slidingCountsLocal(obsTrajs, 1, nObs), nHidden, nObs, 1)),
      nObs, maxIter, tol, reversible)

  /** The Baum-Welch loop from `init`: one transport sweep of
    * per-trajectory forward-backward statistics per iteration. */
  private[hmm] def baumWelch[T](transport: Transport[T],
      obs: T => Array[Int], init: HmmModel, nObs: Int, maxIter: Int,
      tol: Double, reversible: Boolean): HmmModel = {
    var model = init
    val m = model.transition.rows
    var lastLl = Double.NegativeInfinity
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val a = graft.linalg.LinAlg.toFlat(model.transition)
      val b = graft.linalg.LinAlg.toFlat(model.emission)
      val pi = model.initial.toArray
      val stats = transport.sweep(s"Hmm Baum-Welch iteration $iter")(
          _.map(t => forwardBackward(obs(t), a, b, pi, m, nObs)).reduce(_ merge _))(
          _ merge _)
      converged = math.abs(stats.loglik - lastLl) < tol * math.abs(stats.loglik)
      lastLl = stats.loglik
      model = mStep(stats, m, nObs, reversible, iter)
      iter += 1
    }
    model
  }

  /** Most-likely hidden path per frame: (traj_id, t, hidden). */
  def viterbi(dtraj: DataFrame, model: HmmModel, nObs: Int): DataFrame = {
    val spark = dtraj.sparkSession
    import spark.implicits._
    val m = model.transition.rows
    val a = graft.linalg.LinAlg.toFlat(model.transition)
    val b = graft.linalg.LinAlg.toFlat(model.emission)
    val pi = model.initial.toArray
    TrajectoryScan.states(dtraj, "Hmm.viterbi").flatMap { case (id, ts, obs) =>
      val path = viterbiPath(obs, a, b, pi, m, nObs)
      ts.indices.iterator.map(i => (id, ts(i), path(i)))
    }.toDF("traj_id", "t", "hidden")
  }
}
