package graft.markov.hmm

import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import graft.lag.TrajectoryScan
import graft.lag.TrajectoryScan.Sequence
import graft.markov.{RandomVariates, TmatrixSampler}
import graft.markov.hmm.GaussianHmm.plus
import graft.util.Transport

/** Bayesian HMM via Gibbs sampling (reference markov/hmm/_bayesian_hmm.py:
  * 153-643 `BayesianHMM`): alternate (1) forward-filter backward-sample of
  * hidden paths given the model, (2) transition-matrix posterior draw from
  * hidden transition counts, (3) emission-row Dirichlet draws from
  * hidden-observation counts.
  *
  * Distributed shape: step (1) — the data-sized work — runs as one Spark
  * pass per sweep: every trajectory samples its own hidden path locally
  * (seeded per (sweep, traj)) and emits O(m^2 + m*nObs) count statistics,
  * reduced tree-wise; steps (2)-(3) are driver-side draws on tiny
  * matrices. Hidden paths never leave the executors. */
object BayesianHmm {

  case class CountStats(trans: Array[Double], emit: Array[Double], init: Array[Double]) {
    def merge(o: CountStats): CountStats =
      CountStats(plus(trans, o.trans), plus(emit, o.emit), plus(init, o.init))
  }

  /** Forward-filter backward-sample (_bayesian_hmm.py SampleHS step): the
    * scaled forward pass over a `tLen`-frame sequence whose emission
    * likelihoods are `lik(t, j)` = p(o_t | hidden j), then a hidden path
    * drawn backwards from it. */
  private def ffbsPath(tLen: Int, m: Int, a: Array[Double], pi: Array[Double],
                       lik: (Int, Int) => Double, rng: java.util.SplittableRandom): Array[Int] = {
    val alpha = Array.ofDim[Double](tLen, m)
    // scaled forward pass
    var s0 = 0.0
    var i = 0
    while (i < m) { alpha(0)(i) = pi(i) * lik(0, i); s0 += alpha(0)(i); i += 1 }
    if (s0 <= 0) s0 = 1e-300
    i = 0; while (i < m) { alpha(0)(i) /= s0; i += 1 }
    var t = 1
    while (t < tLen) {
      var st = 0.0
      var j = 0
      while (j < m) {
        var acc = 0.0
        var k = 0
        while (k < m) { acc += alpha(t - 1)(k) * a(k * m + j); k += 1 }
        val v = acc * lik(t, j)
        alpha(t)(j) = v; st += v
        j += 1
      }
      if (st <= 0) st = 1e-300
      j = 0; while (j < m) { alpha(t)(j) /= st; j += 1 }
      t += 1
    }
    // backward sampling
    def drawFrom(w: Array[Double]): Int = {
      val z = w.sum
      if (z <= 0) return rng.nextInt(m)
      var u = rng.nextDouble() * z
      var k = 0
      while (k < w.length - 1) {
        u -= w(k)
        if (u < 0) return k
        k += 1
      }
      w.length - 1
    }
    val path = new Array[Int](tLen)
    path(tLen - 1) = drawFrom(alpha(tLen - 1))
    t = tLen - 2
    while (t >= 0) {
      val w = Array.tabulate(m)(k => alpha(t)(k) * a(k * m + path(t + 1)))
      path(t) = drawFrom(w)
      t -= 1
    }
    path
  }

  /** FFBS for one observation sequence; returns per-trajectory
    * transition/emission/initial counts of the SAMPLED path. */
  private[hmm] def ffbsCounts(obs: Array[Int], a: Array[Double], b: Array[Double],
                              pi: Array[Double], m: Int, nObs: Int,
                              rng: java.util.SplittableRandom): CountStats = {
    val tLen = obs.length
    val path = ffbsPath(tLen, m, a, pi, (t, j) => b(j * nObs + obs(t)), rng)
    // counts
    val trans = new Array[Double](m * m)
    val emit = new Array[Double](m * nObs)
    val init = new Array[Double](m)
    init(path(0)) = 1.0
    var t = 0
    while (t < tLen) {
      emit(path(t) * nObs + obs(t)) += 1.0
      if (t < tLen - 1) trans(path(t) * m + path(t + 1)) += 1.0
      t += 1
    }
    CountStats(trans, emit, init)
  }

  case class BayesianHmmPosterior(prior: Hmm.HmmModel, samples: Seq[Hmm.HmmModel]) {
    def gather(f: Hmm.HmmModel => Double, conf: Double = 0.95): (Double, Double, Double, Double) = {
      val vals = samples.map(f)
      val mean = vals.sum / vals.size
      val std = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / math.max(1, vals.size - 1))
      val (lo, hi) = graft.util.Stats.confidenceInterval(vals, conf)
      (mean, std, lo, hi)
    }

    /** Generic statistics facade over an arbitrary (vector-valued) model
      * quantity (util/stats.py:197-290 `QuantityStatistics.gather`). */
    def gatherStats(f: Hmm.HmmModel => Array[Double], quantity: String = "",
                    conf: Double = 0.95): graft.util.QuantityStatistics =
      graft.util.QuantityStatistics.gather(samples, f, quantity, conf)
  }

  /** The [[graft.util.Transport]] threshold of the HMM fits, in TOTAL
    * observations: a Gibbs chain (or EM loop) is inherently sequential, so
    * below it every sweep runs driver-local. Per-trajectory RNGs are keyed
    * by (sweep, traj id), so the discrete counts are IDENTICAL on both
    * legs. */
  val LocalSweepThreshold: Long = 2000000L

  /** Gibbs sampler seeded from a maximum-likelihood model (the reference
    * initializes from an :class:`MaximumLikelihoodHMM` fit). `stride`
    * sweeps separate retained samples to decorrelate the chain. A caller
    * running several samplers over the same input (the q265 parity gate)
    * can group it once with [[graft.lag.TrajectoryScan.states]], persist
    * it and pass it as `groupedOpt`. */
  def sample(dtraj: DataFrame, mlModel: Hmm.HmmModel, nObs: Int, nSamples: Int = 50,
             stride: Int = 2, reversible: Boolean = true, seed: Long = 42L,
             priorPseudocount: Double = 1e-2,
             localThreshold: Long = LocalSweepThreshold,
             groupedOpt: Option[RDD[Sequence[Int]]] = None): BayesianHmmPosterior = {
    def run(trajs: RDD[Sequence[Int]]) = gibbs(
      Transport.byId(trajs, localThreshold).requireNonEmpty("BayesianHmm.sample", Hmm.NonEmptyStates),
      mlModel, nObs, nSamples, stride, reversible, seed, priorPseudocount)
    groupedOpt.fold(Hmm.cached(TrajectoryScan.states(dtraj, "BayesianHmm.sample"))(run))(run)
  }

  /** The Gibbs chain of [[sample]] over the state sequences in `transport`. */
  private[hmm] def gibbs(transport: Transport[Sequence[Int]], mlModel: Hmm.HmmModel,
      nObs: Int, nSamples: Int, stride: Int, reversible: Boolean, seed: Long,
      priorPseudocount: Double): BayesianHmmPosterior = {
    val m = mlModel.transition.rows
    var a = mlModel.transition.copy
    var b = mlModel.emission.copy
    var piV = mlModel.initial.copy
    val rng = new java.util.SplittableRandom(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Hmm.HmmModel]
    var sweep = 0
    while (out.length < nSamples) {
      val aF = graft.linalg.LinAlg.toFlat(a)
      val bF = graft.linalg.LinAlg.toFlat(b)
      val piF = piV.toArray
      val sweepSeed = rng.nextLong()
      val stats = transport.sweep(s"BayesianHmm FFBS sweep $sweep")(_.map { t =>
        val trng = new java.util.SplittableRandom(sweepSeed ^ (t._1 * 0x9E3779B97F4A7C15L))
        ffbsCounts(t._3, aF, bF, piF, m, nObs, trng)
      }.reduce(_ merge _))(_ merge _)
      // (2) transition posterior
      val transCounts = graft.linalg.LinAlg.fromFlat(stats.trans, m) +:+ priorPseudocount
      a = if (reversible)
        TmatrixSampler.sampleReversible(transCounts, 1, rng.nextLong(), nSteps = 1, burnIn = 0).head
      else TmatrixSampler.sampleNonReversible(transCounts, rng)
      // (3) emission posterior: Dirichlet per hidden state
      for (k <- 0 until m) {
        val alpha = Array.tabulate(nObs)(o => stats.emit(k * nObs + o) + priorPseudocount)
        val row = RandomVariates.dirichlet(rng, alpha)
        (0 until nObs).foreach(o => b(k, o) = row(o))
      }
      // initial distribution posterior
      val piDraw = RandomVariates.dirichlet(rng,
        Array.tabulate(m)(k => stats.init(k) + priorPseudocount))
      piV = DenseVector(piDraw)
      sweep += 1
      if (sweep % stride == 0)
        out += Hmm.HmmModel(a.copy, b.copy, piV.copy, Double.NaN, sweep)
    }
    BayesianHmmPosterior(mlModel, out.toSeq)
  }

  /** Convenience: ML fit then posterior sampling, both over ONE cached
    * grouping of the frames with t % lagtime == 0, so the sampler draws at
    * the lag of its prior (reference `BayesianHMM.fit` samples the lagged
    * observations of its initial model). `localThreshold = 0` forces the
    * distributed per-sweep reduce (the 100 TB transport) of both at any
    * size. */
  def fit(dtraj: DataFrame, nHidden: Int, nObs: Int, nSamples: Int = 50,
          lagtime: Int = 1, reversible: Boolean = true, seed: Long = 42L,
          maxIterMl: Int = 50,
          localThreshold: Long = LocalSweepThreshold): BayesianHmmPosterior =
    Hmm.cached(Hmm.lagged(dtraj, lagtime, "BayesianHmm.fit")) { trajs =>
      val transport = Transport.byId(trajs, localThreshold)
        .requireNonEmpty("BayesianHmm.fit", Hmm.NonEmptyStates)
      val ml = Hmm.baumWelch(transport, (t: Sequence[Int]) => t._3,
        Hmm.initialGuess(dtraj, nHidden, nObs, lagtime), nObs, maxIterMl, 1e-6, reversible)
      gibbs(transport, ml, nObs, nSamples, stride = 2, reversible, seed, priorPseudocount = 1e-2)
    }

  // --- Gaussian output models -----------------------------------------------

  /** Per-sweep sufficient statistics of a sampled hidden path over
    * CONTINUOUS observations: hidden transition/initial counts plus per-
    * state (n, Σx, Σx²) — everything the (μ, σ) posterior draw needs, so
    * observations never leave the executors. */
  case class GaussCountStats(trans: Array[Double], init: Array[Double],
                             n: Array[Double], sx: Array[Double], sxx: Array[Double]) {
    def merge(o: GaussCountStats): GaussCountStats =
      GaussCountStats(plus(trans, o.trans), plus(init, o.init),
        plus(n, o.n), plus(sx, o.sx), plus(sxx, o.sxx))
  }

  /** FFBS over Gaussian emissions; emits the sampled path's sufficient
    * statistics. */
  private[hmm] def ffbsGaussCounts(obs: Array[Double], a: Array[Double],
                                   means: Array[Double], sigmas: Array[Double],
                                   pi: Array[Double], m: Int,
                                   rng: java.util.SplittableRandom): GaussCountStats = {
    val tLen = obs.length
    val path = ffbsPath(tLen, m, a, pi,
      (t, j) => GaussianHmm.gaussPdf(obs(t), means(j), sigmas(j)), rng)
    val trans = new Array[Double](m * m)
    val init = new Array[Double](m)
    val n = new Array[Double](m)
    val sx = new Array[Double](m)
    val sxx = new Array[Double](m)
    init(path(0)) = 1.0
    var t = 0
    while (t < tLen) {
      val k = path(t); val x = obs(t)
      n(k) += 1.0; sx(k) += x; sxx(k) += x * x
      if (t < tLen - 1) trans(k * m + path(t + 1)) += 1.0
      t += 1
    }
    GaussCountStats(trans, init, n, sx, sxx)
  }

  case class BayesianGaussianHmmPosterior(prior: GaussianHmm.GaussianHmmModel,
                                          samples: Seq[GaussianHmm.GaussianHmmModel]) {
    def gatherStats(f: GaussianHmm.GaussianHmmModel => Array[Double],
                    quantity: String = "", conf: Double = 0.95): graft.util.QuantityStatistics =
      graft.util.QuantityStatistics.gather(samples, f, quantity, conf)
  }

  /** Gibbs sampler over GAUSSIAN output models (_bayesian_hmm.py `_update`
    * with GaussianOutputModel.sample, _output_model.py:435): per sweep,
    * (1) FFBS hidden paths (one transport sweep of sufficient
    * statistics), (2) emission posterior per state —
    * μ_k ~ N(mean_k, σ_k/√n_k), then σ_k = √(mean((x−μ_k)²)) /
    * √(χ²(n_k−1)/n_k) under the Jeffreys prior P(μ,σ²) ∝ 1/σ —
    * (3) transition + initial posterior draws as in the discrete case. */
  def sampleGaussian(traj: DataFrame, mlModel: GaussianHmm.GaussianHmmModel,
                     nSamples: Int = 50, stride: Int = 2, reversible: Boolean = true,
                     seed: Long = 42L, valueCol: String = "value",
                     priorPseudocount: Double = 1e-2,
                     localThreshold: Long = LocalSweepThreshold,
                     groupedOpt: Option[RDD[Sequence[Double]]] = None): BayesianGaussianHmmPosterior = {
    def run(trajs: RDD[Sequence[Double]]) = gibbsGaussian(
      Transport.byId(trajs, localThreshold)
        .requireNonEmpty("BayesianHmm.sampleGaussian", GaussianHmm.nonEmptyValues(valueCol)),
      mlModel, nSamples, stride, reversible, seed, priorPseudocount)
    groupedOpt.fold(Hmm.cached(TrajectoryScan.values(traj, valueCol, "BayesianHmm.sampleGaussian"))(run))(run)
  }

  /** The Gibbs chain of [[sampleGaussian]] over the value sequences in
    * `transport`. */
  private[hmm] def gibbsGaussian(transport: Transport[Sequence[Double]],
      mlModel: GaussianHmm.GaussianHmmModel, nSamples: Int, stride: Int, reversible: Boolean,
      seed: Long, priorPseudocount: Double): BayesianGaussianHmmPosterior = {
    val m = mlModel.transition.rows
    var a = mlModel.transition.copy
    var means = mlModel.means.clone()
    var sigmas = mlModel.sigmas.clone()
    var piV = mlModel.initial.copy
    val rng = new java.util.SplittableRandom(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[GaussianHmm.GaussianHmmModel]
    var sweep = 0
    while (out.length < nSamples) {
      val aF = graft.linalg.LinAlg.toFlat(a)
      val meansF = means.clone(); val sigmasF = sigmas.clone()
      val piF = piV.toArray
      val sweepSeed = rng.nextLong()
      val stats = transport.sweep(s"BayesianHmm Gaussian FFBS sweep $sweep")(_.map { t =>
        val trng = new java.util.SplittableRandom(sweepSeed ^ (t._1 * 0x9E3779B97F4A7C15L))
        ffbsGaussCounts(t._3, aF, meansF, sigmasF, piF, m, trng)
      }.reduce(_ merge _))(_ merge _)
      // (2) Gaussian emission posterior per state (reference order: μ with
      // the CURRENT σ, then σ with the NEW μ; skip empty states)
      for (k <- 0 until m) {
        val nk = stats.n(k)
        if (nk > 0) {
          val xbar = stats.sx(k) / nk
          means(k) = rng.nextGaussian() * sigmas(k) / math.sqrt(nk) + xbar
        }
        if (nk > 1) {
          val chi2 = 2.0 * RandomVariates.gamma(rng, (nk - 1.0) / 2.0)
          // mean((x-μ)²) from the sufficient statistics
          val sigmahat2 = stats.sxx(k) / nk - 2.0 * means(k) * stats.sx(k) / nk +
            means(k) * means(k)
          sigmas(k) = math.sqrt(math.max(sigmahat2, 1e-12)) /
            math.sqrt(math.max(chi2, 1e-12) / nk)
        }
      }
      // (3) transition + initial posterior
      val transCounts = graft.linalg.LinAlg.fromFlat(stats.trans, m) +:+ priorPseudocount
      a = if (reversible)
        TmatrixSampler.sampleReversible(transCounts, 1, rng.nextLong(), nSteps = 1, burnIn = 0).head
      else TmatrixSampler.sampleNonReversible(transCounts, rng)
      val piDraw = RandomVariates.dirichlet(rng,
        Array.tabulate(m)(k => stats.init(k) + priorPseudocount))
      piV = DenseVector(piDraw)
      sweep += 1
      if (sweep % stride == 0)
        out += GaussianHmm.GaussianHmmModel(a.copy, means.clone(), sigmas.clone(),
          piV.copy, Double.NaN, sweep)
    }
    BayesianGaussianHmmPosterior(mlModel, out.toSeq)
  }

  /** Convenience: Gaussian ML (Baum-Welch) fit then posterior sampling,
    * both over ONE cached grouping of `traj`. `localThreshold = 0` forces
    * the distributed per-sweep reduce of both. */
  def fitGaussian(traj: DataFrame, nHidden: Int, nSamples: Int = 50,
                  reversible: Boolean = true, seed: Long = 42L,
                  valueCol: String = "value", maxIterMl: Int = 50,
                  localThreshold: Long = LocalSweepThreshold): BayesianGaussianHmmPosterior =
    Hmm.cached(TrajectoryScan.values(traj, valueCol, "BayesianHmm.fitGaussian")) { trajs =>
      val transport = Transport.byId(trajs, localThreshold)
        .requireNonEmpty("BayesianHmm.fitGaussian", GaussianHmm.nonEmptyValues(valueCol))
      val ml = GaussianHmm.baumWelch(transport, traj, nHidden, valueCol, maxIterMl,
        tol = 1e-6, reversible, init = "gmm", localThreshold)
      gibbsGaussian(transport, ml, nSamples, stride = 2, reversible, seed, priorPseudocount = 1e-2)
    }
}
