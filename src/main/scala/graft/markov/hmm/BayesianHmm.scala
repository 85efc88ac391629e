package graft.markov.hmm

import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
import org.apache.spark.sql.{DataFrame, Dataset}
import graft.markov.{RandomVariates, TmatrixSampler}

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
    def merge(o: CountStats): CountStats = {
      def add(a: Array[Double], b: Array[Double]) = {
        val r = a.clone; var i = 0
        while (i < r.length) { r(i) += b(i); i += 1 }
        r
      }
      CountStats(add(trans, o.trans), add(emit, o.emit), add(init, o.init))
    }
  }

  /** Forward-filter backward-sample for one observation sequence; returns
    * per-trajectory transition/emission/initial counts of the SAMPLED path
    * (_bayesian_hmm.py SampleHS step). */
  private[hmm] def ffbsCounts(obs: Array[Int], a: Array[Double], b: Array[Double],
                              pi: Array[Double], m: Int, nObs: Int,
                              rng: java.util.SplittableRandom): CountStats = {
    val tLen = obs.length
    val alpha = Array.ofDim[Double](tLen, m)
    // scaled forward pass
    var s0 = 0.0
    var i = 0
    while (i < m) { alpha(0)(i) = pi(i) * b(i * nObs + obs(0)); s0 += alpha(0)(i); i += 1 }
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
        val v = acc * b(j * nObs + obs(t))
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
    // counts
    val trans = new Array[Double](m * m)
    val emit = new Array[Double](m * nObs)
    val init = new Array[Double](m)
    init(path(0)) = 1.0
    t = 0
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

  /** The discrete per-trajectory grouping `sample` consumes — exposed so
    * a caller running BOTH transports over the same input (the q265
    * parity gate) can build + cache it once and pass it via
    * `groupedOpt` instead of paying the groupByKey per run. */
  def groupDiscrete(dtraj: DataFrame): Dataset[(Long, Array[Int])] = {
    val spark = dtraj.sparkSession
    import spark.implicits._
    dtraj.select("traj_id", "t", "state").as[(Long, Long, Int)]
      .groupByKey(_._1)
      .mapGroups { (id, it) => (id, it.toArray.sortBy(_._2).map(_._3)) }
  }

  /** Gibbs sampler seeded from a maximum-likelihood model (the reference
    * initializes from an :class:`MaximumLikelihoodHMM` fit). `stride`
    * sweeps separate retained samples to decorrelate the chain. */
  def sample(dtraj: DataFrame, mlModel: Hmm.HmmModel, nObs: Int, nSamples: Int = 50,
             stride: Int = 2, reversible: Boolean = true, seed: Long = 42L,
             priorPseudocount: Double = 1e-2,
             localThreshold: Long = LocalSweepThreshold,
             groupedOpt: Option[Dataset[(Long, Array[Int])]] = None): BayesianHmmPosterior =
    withGrouping(groupedOpt, groupDiscrete(dtraj)) { trajs =>
      val transport = graft.util.Transport.byId(trajs, localThreshold)(_.length)
        .requireNonEmpty("BayesianHmm.sample",
          "state trajectory frame (no (traj_id, t, state) rows)")
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
          ffbsCounts(t._2, aF, bF, piF, m, nObs, trng)
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

  /** Runs `body` over the caller's grouping (caller-cached, caller-owned)
    * or over `build`, cached for the run and released afterwards. */
  private def withGrouping[A, R](groupedOpt: Option[Dataset[A]], build: => Dataset[A])(
      body: Dataset[A] => R): R = groupedOpt match {
    case Some(g) => body(g)
    case None =>
      val g = build.cache()
      try body(g) finally g.unpersist()
  }

  /** Convenience: ML fit then posterior sampling. `localThreshold = 0`
    * forces the distributed per-sweep reduce (the 100 TB transport) at
    * any size — oracle-gated by q265 alongside the default crossover. */
  def fit(dtraj: DataFrame, nHidden: Int, nObs: Int, nSamples: Int = 50,
          lagtime: Int = 1, reversible: Boolean = true, seed: Long = 42L,
          maxIterMl: Int = 50,
          localThreshold: Long = LocalSweepThreshold): BayesianHmmPosterior = {
    val ml = Hmm.fit(dtraj, nHidden, nObs, lagtime, maxIter = maxIterMl,
      reversible = reversible)
    sample(dtraj, ml, nObs, nSamples, reversible = reversible, seed = seed,
      localThreshold = localThreshold)
  }

  // --- Gaussian output models -----------------------------------------------

  /** Per-sweep sufficient statistics of a sampled hidden path over
    * CONTINUOUS observations: hidden transition/initial counts plus per-
    * state (n, Σx, Σx²) — everything the (μ, σ) posterior draw needs, so
    * observations never leave the executors. */
  case class GaussCountStats(trans: Array[Double], init: Array[Double],
                             n: Array[Double], sx: Array[Double], sxx: Array[Double]) {
    def merge(o: GaussCountStats): GaussCountStats = {
      def add(a: Array[Double], b: Array[Double]) = {
        val r = a.clone; var i = 0
        while (i < r.length) { r(i) += b(i); i += 1 }
        r
      }
      GaussCountStats(add(trans, o.trans), add(init, o.init),
        add(n, o.n), add(sx, o.sx), add(sxx, o.sxx))
    }
  }

  @inline private def gaussPdf(x: Double, mu: Double, sigma: Double): Double = {
    val s = math.max(sigma, 1e-8)
    val z = (x - mu) / s
    math.exp(-0.5 * z * z) / (s * math.sqrt(2.0 * math.Pi))
  }

  /** Forward-filter backward-sample over Gaussian emissions; emits the
    * sampled path's sufficient statistics. */
  private[hmm] def ffbsGaussCounts(obs: Array[Double], a: Array[Double],
                                   means: Array[Double], sigmas: Array[Double],
                                   pi: Array[Double], m: Int,
                                   rng: java.util.SplittableRandom): GaussCountStats = {
    val tLen = obs.length
    val alpha = Array.ofDim[Double](tLen, m)
    var s0 = 0.0
    var i = 0
    while (i < m) { alpha(0)(i) = pi(i) * gaussPdf(obs(0), means(i), sigmas(i)); s0 += alpha(0)(i); i += 1 }
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
        val v = acc * gaussPdf(obs(t), means(j), sigmas(j))
        alpha(t)(j) = v; st += v
        j += 1
      }
      if (st <= 0) st = 1e-300
      j = 0; while (j < m) { alpha(t)(j) /= st; j += 1 }
      t += 1
    }
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
    val trans = new Array[Double](m * m)
    val init = new Array[Double](m)
    val n = new Array[Double](m)
    val sx = new Array[Double](m)
    val sxx = new Array[Double](m)
    init(path(0)) = 1.0
    t = 0
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

  /** Gaussian twin of [[groupDiscrete]] (the q265 shared-grouping hook). */
  def groupGaussian(traj: DataFrame,
                    valueCol: String = "value"): Dataset[(Long, Array[Double])] = {
    val spark = traj.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    traj.select(col("traj_id").cast("long"), col("t").cast("long"),
        col(valueCol).cast("double")).as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (id, it) => (id, it.toArray.sortBy(_._2).map(_._3)) }
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
                     groupedOpt: Option[Dataset[(Long, Array[Double])]] = None): BayesianGaussianHmmPosterior =
    withGrouping(groupedOpt, groupGaussian(traj, valueCol)) { trajs =>
      val transport = graft.util.Transport.byId(trajs, localThreshold)(_.length)
        .requireNonEmpty("BayesianHmm.sampleGaussian",
          s"observation frame (no (traj_id, t, $valueCol) rows)")
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
          ffbsGaussCounts(t._2, aF, meansF, sigmasF, piF, m, trng)
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

  /** Convenience: Gaussian ML (Baum-Welch) fit then posterior sampling.
    * `localThreshold = 0` forces the distributed per-sweep reduce. */
  def fitGaussian(traj: DataFrame, nHidden: Int, nSamples: Int = 50,
                  reversible: Boolean = true, seed: Long = 42L,
                  valueCol: String = "value", maxIterMl: Int = 50,
                  localThreshold: Long = LocalSweepThreshold): BayesianGaussianHmmPosterior = {
    val ml = GaussianHmm.fit(traj, nHidden, valueCol, maxIter = maxIterMl,
      localThreshold = localThreshold)
    sampleGaussian(traj, ml, nSamples, reversible = reversible, seed = seed,
      valueCol = valueCol, localThreshold = localThreshold)
  }
}
