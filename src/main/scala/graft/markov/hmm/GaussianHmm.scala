package graft.markov.hmm

import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import graft.lag.TrajectoryScan
import graft.lag.TrajectoryScan.Sequence
import graft.markov.TransitionMatrixMle
import graft.util.Transport

/** Hidden Markov model with 1-d Gaussian output densities (reference
  * markov/hmm/_output_model.py:308 `GaussianOutputModel`,
  * init/gaussian/_init_gaussian_impl.py, Baum-Welch loop of
  * _maximum_likelihood_hmm.py).
  *
  * Distributed shape mirrors discrete `Hmm`: EM on the driver; per
  * iteration ONE pass where each trajectory runs scaled forward-backward
  * locally and emits O(m^2 + m) sufficient statistics — for the Gaussian
  * M-step these are the gamma-weighted moments (sum g, sum g*o, sum g*o^2)
  * per hidden state, so means/sigmas update without materializing gamma. */
object GaussianHmm {

  /** `span` is the (min, max) of the observed values, carried from the
    * GMM of [[initialGuessGmm]] (`GmmModel.span`); None otherwise. */
  case class GaussianHmmModel(
      transition: DenseMatrix[Double],  // m x m
      means: Array[Double], sigmas: Array[Double],
      initial: DenseVector[Double],
      logLikelihood: Double, iterations: Int,
      span: Option[(Double, Double)] = None)

  private case class GStats(loglik: Double, xi: Array[Double],
                            gw: Array[Double], gwx: Array[Double], gwxx: Array[Double],
                            g0: Array[Double]) {
    def merge(o: GStats): GStats =
      GStats(loglik + o.loglik, plus(xi, o.xi), plus(gw, o.gw),
        plus(gwx, o.gwx), plus(gwxx, o.gwxx), plus(g0, o.g0))
  }

  @inline private[hmm] def gaussPdf(x: Double, mu: Double, sigma: Double): Double = {
    val s = math.max(sigma, 1e-8)
    val z = (x - mu) / s
    math.exp(-0.5 * z * z) / (s * math.sqrt(2.0 * math.Pi))
  }

  /** Scaled forward-backward on a per-frame likelihood matrix
    * lik(t*m + j) = p(o_t | state j); emits gamma-weighted moments. */
  private def forwardBackward(obs: Array[Double], a: Array[Double], pi: Array[Double],
                              means: Array[Double], sigmas: Array[Double], m: Int): GStats = {
    val tLen = obs.length
    val lik = new Array[Double](tLen * m)
    var t = 0
    while (t < tLen) {
      var j = 0
      var rowMax = 0.0
      while (j < m) {
        val v = gaussPdf(obs(t), means(j), sigmas(j))
        lik(t * m + j) = v
        if (v > rowMax) rowMax = v
        j += 1
      }
      // outlier guard (_output_model.py ignore_outliers): if every state
      // assigns ~zero likelihood, flatten the row to uniform
      if (rowMax < 1e-300) { j = 0; while (j < m) { lik(t * m + j) = 1.0; j += 1 } }
      t += 1
    }
    val alpha = Array.ofDim[Double](tLen, m)
    val beta = Array.ofDim[Double](tLen, m)
    val scale = new Array[Double](tLen)
    var s0 = 0.0
    var i = 0
    while (i < m) { alpha(0)(i) = pi(i) * lik(i); s0 += alpha(0)(i); i += 1 }
    scale(0) = if (s0 > 0) s0 else 1e-300
    i = 0; while (i < m) { alpha(0)(i) /= scale(0); i += 1 }
    t = 1
    while (t < tLen) {
      var st = 0.0
      var j = 0
      while (j < m) {
        var acc = 0.0
        var k = 0
        while (k < m) { acc += alpha(t - 1)(k) * a(k * m + j); k += 1 }
        val v = acc * lik(t * m + j)
        alpha(t)(j) = v; st += v
        j += 1
      }
      scale(t) = if (st > 0) st else 1e-300
      j = 0; while (j < m) { alpha(t)(j) /= scale(t); j += 1 }
      t += 1
    }
    i = 0; while (i < m) { beta(tLen - 1)(i) = 1.0 / scale(tLen - 1); i += 1 }
    t = tLen - 2
    while (t >= 0) {
      var k = 0
      while (k < m) {
        var acc = 0.0
        var j = 0
        while (j < m) { acc += a(k * m + j) * lik((t + 1) * m + j) * beta(t + 1)(j); j += 1 }
        beta(t)(k) = acc / scale(t)
        k += 1
      }
      t -= 1
    }
    val xi = new Array[Double](m * m)
    val gw = new Array[Double](m)
    val gwx = new Array[Double](m)
    val gwxx = new Array[Double](m)
    val g0 = new Array[Double](m)
    t = 0
    while (t < tLen) {
      var z = 0.0
      var j = 0
      while (j < m) { z += alpha(t)(j) * beta(t)(j) * scale(t); j += 1 }
      if (z <= 0) z = 1.0
      j = 0
      while (j < m) {
        val g = alpha(t)(j) * beta(t)(j) * scale(t) / z
        gw(j) += g
        gwx(j) += g * obs(t)
        gwxx(j) += g * obs(t) * obs(t)
        if (t == 0) g0(j) = g
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
          xi(k * m + j) += alpha(t)(k) * a(k * m + j) * lik((t + 1) * m + j) * beta(t + 1)(j)
          j += 1
        }
        k += 1
      }
      t += 1
    }
    GStats(scale.map(math.log).sum, xi, gw, gwx, gwxx, g0)
  }

  /** Deterministic initial guess: means at evenly spaced quantiles of the
    * pooled observations, sigmas = pooled std / m, uniform chain. Kept as
    * the cheap fallback; the reference-parity default is
    * [[initialGuessGmm]] (init/gaussian/_init_gaussian_impl.py). */
  def initialGuess(traj: DataFrame, nHidden: Int, valueCol: String): GaussianHmmModel = {
    val m = nHidden
    val probs = (1 to m).map(i => i.toDouble / (m + 1)).toArray
    val qs = traj.selectExpr(s"CAST($valueCol AS DOUBLE) AS v")
      .stat.approxQuantile("v", probs, 1e-3)
    val stats = traj.selectExpr(s"avg($valueCol) AS mu", s"stddev_pop($valueCol) AS sd").collect()(0)
    val sd = stats.getDouble(1)
    val a = DenseMatrix.fill[Double](m, m)(0.1 / math.max(1, m - 1))
    (0 until m).foreach(i => a(i, i) = 0.9)
    GaussianHmmModel(a, qs, Array.fill(m)(math.max(sd / m, 1e-3)),
      DenseVector.fill(m)(1.0 / m), Double.NegativeInfinity, 0)
  }

  /** 1-d Gaussian mixture fitted by EM (the distributed stand-in for the
    * scikit-learn `GaussianMixture` the reference init uses).
    *
    * `logLikelihood` is the E-step log-likelihood evaluated under the
    * PENULTIMATE parameter set (the E-step of the final iteration runs
    * before that iteration's M-step updates weights/means/sigmas) — the
    * exact semantics of sklearn's `GaussianMixture.lower_bound_`, which
    * graft matches deliberately for parity. `span` is the (min, max) of
    * the values the mixture was fitted to. */
  case class GmmModel(weights: Array[Double], means: Array[Double],
                      sigmas: Array[Double], logLikelihood: Double,
                      iterations: Int, span: (Double, Double))

  /** Distinct values above which [[gmmFit]] seeds through
    * `LloydKMeans.fit` over the values rather than the exact histogram
    * Lloyd (`KMeans.fit1dExact`'s cap). */
  private val MaxSeedDistinct = 1 << 20

  private val invSqrt2Pi = 1.0 / math.sqrt(2.0 * math.Pi)

  /** The E-step statistics of one value `v` of weight `c` under the
    * mixture (w, mu, sg), added into acc = [r_j, rx_j, rxx_j]*m, ll, n —
    * the one per-value body of both [[gmmFit]] legs. */
  private def seqBody(acc: Array[Double], v: Double, c: Double, w: Array[Double],
                      mu: Array[Double], sg: Array[Double]): Array[Double] = {
    val m = w.length
    var tot = 0.0
    var j = 0
    val dens = new Array[Double](m)
    while (j < m) {
      val z = (v - mu(j)) / sg(j)
      val d = w(j) * invSqrt2Pi / sg(j) * math.exp(-0.5 * z * z)
      dens(j) = d; tot += d; j += 1
    }
    if (tot < 1e-300) tot = 1e-300
    j = 0
    while (j < m) {
      val r = c * dens(j) / tot
      acc(3 * j) += r; acc(3 * j + 1) += r * v; acc(3 * j + 2) += r * v * v
      j += 1
    }
    acc(3 * m) += c * math.log(tot); acc(3 * m + 1) += c
    acc
  }

  /** acc = [n_j, sx_j, sxx_j]*k, min, max before any value is added. */
  private def seedZero(k: Int): Array[Double] = {
    val z = new Array[Double](3 * k + 2)
    z(3 * k) = Double.PositiveInfinity; z(3 * k + 1) = Double.NegativeInfinity
    z
  }

  /** The seed M-step statistics of one value `v` of weight `c`: the
    * one-hot nearest-center assignment (first-min tie-break) adds
    * (c, c·v, c·v²) to its center's slots of acc (see [[seedZero]]), and
    * `v` widens the (min, max) span — the one seed body of both
    * [[gmmFit]] legs. */
  private def seedTerm(acc: Array[Double], v: Double, c: Double,
                       centers: Array[Double]): Array[Double] = {
    val k = centers.length
    var best = 0
    var j = 1
    while (j < k) {
      if (math.abs(v - centers(j)) < math.abs(v - centers(best))) best = j
      j += 1
    }
    acc(3 * best) += c; acc(3 * best + 1) += c * v; acc(3 * best + 2) += c * v * v
    acc(3 * k) = math.min(acc(3 * k), v); acc(3 * k + 1) = math.max(acc(3 * k + 1), v)
    acc
  }

  private def seedMerge(a: Array[Double], b: Array[Double]): Array[Double] = {
    val k3 = a.length - 2
    var i = 0
    while (i < k3) { a(i) += b(i); i += 1 }
    a(k3) = math.min(a(k3), b(k3)); a(k3 + 1) = math.max(a(k3 + 1), b(k3 + 1))
    a
  }

  /** EM fit of a 1-d Gaussian mixture over the pooled, non-null
    * observation column (reference init/gaussian/_init_gaussian_impl.py:46
    * `GaussianMixture(n_components).fit`). Seeding is sklearn-parity:
    * k-means on the pooled values (the exact 1-d Lloyd of
    * `KMeans.fitHistogram`, deterministic seed) followed by the
    * one-hot-responsibility M-step — this is what lets a rare far-out mode
    * claim its own component before EM starts, which is the whole point of
    * the reference's GMM init. reg_covar = 1e-6 as in sklearn; tol on the
    * mean per-sample loglik.
    *
    * The fit starts with ONE aggregation, the (value, count) histogram
    * (`KMeans.valueHistogram`), and that bounded collect is the size
    * signal: `localThreshold` counts DISTINCT values. A histogram of at
    * most min(`localThreshold`, 2^20) values holds everything the fit
    * needs, so the k-means seeding, the seed M-step, every EM iteration
    * and the value span run on the driver over the (value, count) pairs
    * with no further job; each EM pass is one count-weighted loop over the
    * distinct values, in fixed chunks so the result is the same for any
    * core count. Above it the values are cached, and the seed M-step sums
    * with the span, then each EM iteration, are one `treeAggregate` over
    * them that returns only the seed sums or the 3m responsibility-weighted
    * sums (Σr, Σr·x, Σr·x²) plus the loglik. Both legs run the same
    * per-value bodies ([[seedTerm]], [[seqBody]]), a histogram entry
    * weighted by its count. */
  def gmmFit(traj: DataFrame, nComponents: Int, valueCol: String = "value",
             maxIter: Int = 100, tol: Double = 1e-3,
             seed: Long = 42L,
             localThreshold: Long = BayesianHmm.LocalSweepThreshold): GmmModel = {
    import org.apache.spark.sql.functions.{array, col}
    import graft.clustering.KMeans
    val m = nComponents
    val vals = traj.selectExpr(s"CAST($valueCol AS DOUBLE) AS v")
      .where(col("v").isNotNull)
    val feats = vals.select(array(col("v")).as("features"))
    val hist = KMeans.valueHistogram(feats, MaxSeedDistinct)
    KMeans.requireValues(hist, "GaussianHmm.gmmFit",
      s"value column ('$valueCol' has no non-null values to seed a $m-component mixture)")
    val local = hist.length <= math.min(localThreshold, MaxSeedDistinct.toLong)
    val values = hist.map(_._1)
    val counts = hist.map(_._2.toDouble)
    // distributed leg only: the values the seed and EM passes scan
    val rdd = if (local) None else Some {
      val spark = traj.sparkSession
      import spark.implicits._
      vals.as[Double].rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      val centers = (if (hist.length <= MaxSeedDistinct) KMeans.fitHistogram(hist, m, seed)
        else graft.clustering.LloydKMeans.fit(feats, m, maxIter = 50, tol = KMeans.LargeTol,
          seed = seed, featCol = "features")).centers.map(_(0))
      val mc = centers.length // < m only when the data has < m distinct values
      val seedSums = rdd match {
        case Some(data) =>
          data.treeAggregate(seedZero(mc))(seedTerm(_, _, 1.0, centers), seedMerge)
        case None =>
          values.indices.foldLeft(seedZero(mc))((acc, i) =>
            seedTerm(acc, values(i), counts(i), centers))
      }
      val span = (seedSums(3 * mc), seedSums(3 * mc + 1))
      val emStats: (Array[Double], Array[Double], Array[Double]) => Array[Double] = rdd match {
        case Some(data) => (w, mu, sg) =>
          data.treeAggregate(new Array[Double](3 * m + 2))(seqBody(_, _, 1.0, w, mu, sg), addInto)
        case None =>
          val n = values.length
          val chunk = 32768 // fixed -> deterministic for any core count
          def pass(s0: Int, e0: Int, w: Array[Double], mu: Array[Double],
                   sg: Array[Double]): Array[Double] = {
            val acc = new Array[Double](3 * m + 2)
            var i = s0
            while (i < e0) { seqBody(acc, values(i), counts(i), w, mu, sg); i += 1 }
            acc
          }
          (w, mu, sg) =>
            if (n <= chunk) pass(0, n, w, mu, sg)
            else graft.util.Par.mapOrdered(0 until n by chunk) { s0 =>
              pass(s0, math.min(s0 + chunk, n), w, mu, sg)
            }.reduce(addInto)
      }
      val nTot = (0 until mc).map(j => seedSums(3 * j)).sum
      var means = new Array[Double](m)
      var sigmas = new Array[Double](m)
      var weights = new Array[Double](m)
      for (j <- 0 until m) {
        val nj = if (j < mc) seedSums(3 * j) else 0.0
        if (nj > 0) {
          weights(j) = nj / nTot
          means(j) = seedSums(3 * j + 1) / nj
          val v = seedSums(3 * j + 2) / nj - means(j) * means(j)
          sigmas(j) = math.sqrt(math.max(v, 0.0) + 1e-6)
        } else { // empty/missing cluster: flat stand-in, EM reassigns it
          weights(j) = 1e-6
          means(j) = centers(j % mc)
          sigmas(j) = 1.0
        }
      }
      var lastLl = Double.NegativeInfinity
      var ll = Double.NegativeInfinity
      var iter = 0
      var converged = false
      // The EM statistics are closures over captured parameter arrays, not
      // per-iteration Column expressions: the (w, mu, sigma) parameters
      // only change LITERALS, and a literal change is a new expression
      // tree — Spark recompiled a fresh whole-stage codegen unit for every
      // one of up to 100 sequential iterations (~20-30 ms each of pure
      // janino time, the dominant cost of q247 / q253). The size dispatch
      // is written out here rather than through graft.util.Transport
      // because the local leg loops over the histogram's unboxed
      // (value, count) arrays, which a generic Transport item type would
      // box in every EM iteration.
      while (iter < maxIter && !converged) {
        val row = emStats(weights, means, sigmas)
        val n = row(3 * m + 1)
        val wNew = new Array[Double](m)
        val muNew = new Array[Double](m)
        val sNew = new Array[Double](m)
        for (j <- 0 until m) {
          val rj = row(3 * j)
          if (rj > 1e-12) {
            wNew(j) = rj / n
            muNew(j) = row(3 * j + 1) / rj
            val v = row(3 * j + 2) / rj - muNew(j) * muNew(j)
            sNew(j) = math.sqrt(math.max(v, 0.0) + 1e-6) // sklearn reg_covar
          } else { wNew(j) = weights(j); muNew(j) = means(j); sNew(j) = sigmas(j) }
        }
        ll = row(3 * m)
        converged = math.abs(ll - lastLl) / n < tol
        lastLl = ll
        weights = wNew; means = muNew; sigmas = sNew
        iter += 1
      }
      GmmModel(weights, means, sigmas, ll, iter, span)
    } finally rdd.foreach(_.unpersist(blocking = false))
  }

  /** Reference-parity initial guess (init/gaussian/_init_gaussian_impl.py:
    * `from_data`): fit a Gaussian mixture to the pooled observations,
    * take its (means, sigmas) as the output model, accumulate FRACTIONAL
    * state-membership transition counts Nij = Σ_t pobs_t ⊗ pobs_{t+1}
    * (pobs = per-frame state likelihoods row-normalized, NO mixture
    * weights — exactly `to_state_probability_trajectory`), run the MLE
    * transition estimator on Nij, and start from its stationary vector.
    *
    * Distributed shape: the counts are one [[graft.lag.TrajectoryScan]]
    * ([[fractionalCounts]]): its kernel computes pobs once per frame and
    * adds pobs_t ⊗ pobs_{t+1} into m² doubles, so only m² doubles per
    * partition reach the driver. The model carries the GMM's value
    * `span`. */
  def initialGuessGmm(traj: DataFrame, nHidden: Int, valueCol: String,
                      reversible: Boolean = true,
                      precomputedGmm: Option[GmmModel] = None,
                      localThreshold: Long = BayesianHmm.LocalSweepThreshold): GaussianHmmModel = {
    val m = nHidden
    // callers that already ran the EM (q253's battery checks the GMM
    // itself AND the init built from it) pass it in rather than paying a
    // second fit
    val gmm = precomputedGmm.getOrElse(
      gmmFit(traj, m, valueCol, localThreshold = localThreshold))
    val nij = fractionalCounts(traj, valueCol, gmm)
    if (bsum(nij) <= 0.0) throw new IllegalArgumentException(
      "GaussianHmm.initialGuessGmm: requires a non-empty set of transitions " +
        s"(no trajectory has two consecutive non-null $valueCol values)")
    val a = if (reversible) TransitionMatrixMle.reversible(nij)
            else TransitionMatrixMle.nonReversible(nij)
    val pi = graft.linalg.LinAlg.stationaryDistribution(a)
    GaussianHmmModel(a, gmm.means, gmm.sigmas, pi,
      Double.NegativeInfinity, 0, Some(gmm.span))
  }

  /** The fractional transition counts Nij = Σ_t pobs_t ⊗ pobs_{t+1} of
    * [[initialGuessGmm]] under `gmm`'s (means, sigmas): one
    * [[graft.lag.TrajectoryScan]], m² doubles per partition. */
  private[markov] def fractionalCounts(traj: DataFrame, valueCol: String,
                                       gmm: GmmModel): DenseMatrix[Double] = {
    import org.apache.spark.sql.functions.col
    val m = gmm.means.length
    val counts = TrajectoryScan.fold(traj, Seq(col(valueCol).cast("double")),
        s"GaussianHmm GMM-init pair counts (m=$m)")(
        new PairCounts(gmm.means, gmm.sigmas))(_.frame(_, _))(_ merge _).acc
    DenseMatrix.tabulate(m, m)((i, j) => counts(i * m + j))
  }

  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
  }

  /** a + b elementwise, into a new array. */
  private[hmm] def plus(a: Array[Double], b: Array[Double]): Array[Double] = addInto(a.clone, b)

  /** Row-normalized state likelihoods of `v` into `out`; an all-zero row
    * (every state below 1e-300) normalizes to uniform, not NaN — the
    * outlier guard of _output_model.py `ignore_outliers`. */
  private def stateProbs(v: Double, means: Array[Double], sigmas: Array[Double],
                         out: Array[Double]): Unit = {
    val m = means.length
    var tot = 0.0
    var j = 0
    while (j < m) {
      val z = (v - means(j)) / sigmas(j)
      out(j) = invSqrt2Pi / sigmas(j) * math.exp(-0.5 * z * z)
      tot += out(j)
      j += 1
    }
    j = 0
    while (j < m) { out(j) = if (tot < 1e-300) 1.0 / m else out(j) / tot; j += 1 }
  }

  /** Σ pobs_t ⊗ pobs_{t+1}, row-major m² in `acc`, over (traj_id, t,
    * v DOUBLE) frames. A pair counts only when both values are non-null,
    * so a null value breaks the chain. */
  private final class PairCounts(means: Array[Double], sigmas: Array[Double])
      extends Serializable {
    private val m = means.length
    val acc = new Array[Double](m * m)
    @transient private var prev = new Array[Double](m)
    @transient private var cur = new Array[Double](m)
    private var prevValid = false

    def frame(r: InternalRow, first: Boolean): Unit =
      if (r.isNullAt(2)) prevValid = false
      else {
        stateProbs(r.getDouble(2), means, sigmas, cur)
        if (prevValid && !first) {
          var i = 0
          while (i < m) {
            var j = 0
            while (j < m) { acc(i * m + j) += prev(i) * cur(j); j += 1 }
            i += 1
          }
        }
        val t = prev; prev = cur; cur = t
        prevValid = true
      }

    def merge(o: PairCounts): PairCounts = { addInto(acc, o.acc); this }
  }

  /** Baum-Welch EM over (traj_id, t, value) observations.
    *
    * `init` selects the initial guess: "gmm" (default — the reference's
    * GMM + fractional-membership-counts heuristic, see
    * [[initialGuessGmm]]) or "quantile" (the cheap spread guess). */
  def fit(traj: DataFrame, nHidden: Int, valueCol: String = "value",
          maxIter: Int = 100, tol: Double = 1e-6,
          reversible: Boolean = true,
          init: String = "gmm",
          localThreshold: Long = BayesianHmm.LocalSweepThreshold): GaussianHmmModel = {
    if (init != "gmm" && init != "quantile") throw new IllegalArgumentException(
      s"GaussianHmm.fit: unknown init '$init'. Must be one of gmm, quantile.")
    // The size is taken before the initial guess, so an empty frame fails
    // with the precondition rather than inside the GMM seeding.
    Hmm.cached(TrajectoryScan.values(traj, valueCol, "GaussianHmm.fit")) { trajs =>
      val transport = Transport.byId(trajs, localThreshold)
        .requireNonEmpty("GaussianHmm.fit", nonEmptyValues(valueCol))
      baumWelch(transport, traj, nHidden, valueCol, maxIter, tol, reversible, init, localThreshold)
    }
  }

  /** What the Gaussian fits and the sampler require of their frame. */
  private[hmm] def nonEmptyValues(valueCol: String): String =
    s"observation frame (no (traj_id, t, $valueCol) rows)"

  /** The Baum-Welch loop of [[fit]] over `traj`'s sequences in `transport`,
    * from the `init` guess over `traj`. */
  private[hmm] def baumWelch(transport: Transport[Sequence[Double]], traj: DataFrame,
      nHidden: Int, valueCol: String, maxIter: Int, tol: Double, reversible: Boolean,
      init: String, localThreshold: Long): GaussianHmmModel = {
    val m = nHidden
    var model =
      if (init == "gmm") initialGuessGmm(traj, nHidden, valueCol, reversible,
        localThreshold = localThreshold)
      else initialGuess(traj, nHidden, valueCol)
    var lastLl = Double.NegativeInfinity
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val a = graft.linalg.LinAlg.toFlat(model.transition)
      val pi = model.initial.toArray
      val means = model.means; val sigmas = model.sigmas
      val stats = transport.sweep(s"GaussianHmm Baum-Welch iteration $iter")(
          _.map(t => forwardBackward(t._3, a, pi, means, sigmas, m)).reduce(_ merge _))(
          _ merge _)
      val xiM = graft.linalg.LinAlg.fromFlat(stats.xi, m)
      val aNew = if (reversible) TransitionMatrixMle.reversible(xiM)
                 else TransitionMatrixMle.nonReversible(xiM)
      val meansNew = new Array[Double](m)
      val sigmasNew = new Array[Double](m)
      for (j <- 0 until m) {
        val w = stats.gw(j)
        if (w > 1e-12) {
          meansNew(j) = stats.gwx(j) / w
          val v = stats.gwxx(j) / w - meansNew(j) * meansNew(j)
          sigmasNew(j) = math.sqrt(math.max(v, 1e-12))
        } else { meansNew(j) = model.means(j); sigmasNew(j) = model.sigmas(j) }
      }
      val piSum = stats.g0.sum
      val piNew = DenseVector(stats.g0.map(v => if (piSum > 0) v / piSum else 1.0 / m))
      converged = math.abs(stats.loglik - lastLl) < tol * math.abs(stats.loglik)
      lastLl = stats.loglik
      model = GaussianHmmModel(aNew, meansNew, sigmasNew, piNew, stats.loglik, iter + 1,
        model.span)
      iter += 1
    }
    model
  }

  /** True data log-likelihood of a fitted model: the scaled forward pass
    * per trajectory, summed — with per-frame likelihoods FLOORED at
    * 1e-300 rather than outlier-flattened, so a model that assigns ~zero
    * probability to real samples is scored accordingly (the training
    * loop's ignore_outliers flattening deliberately hides that, which is
    * right for EM robustness but wrong for model comparison). */
  def scoreLogLikelihood(traj: DataFrame, model: GaussianHmmModel,
                         valueCol: String = "value"): Double = {
    val m = model.transition.rows
    val a = graft.linalg.LinAlg.toFlat(model.transition)
    val pi = model.initial.toArray
    val means = model.means; val sigmas = model.sigmas
    TrajectoryScan.values(traj, valueCol, "GaussianHmm.scoreLogLikelihood")
      .map { case (_, _, obs) =>
        val tLen = obs.length
        val alpha = new Array[Double](m)
        val next = new Array[Double](m)
        var ll = 0.0
        var i = 0
        var s = 0.0
        while (i < m) {
          alpha(i) = pi(i) * math.max(gaussPdf(obs(0), means(i), sigmas(i)), 1e-300)
          s += alpha(i); i += 1
        }
        ll += math.log(s); i = 0
        while (i < m) { alpha(i) /= s; i += 1 }
        var t = 1
        while (t < tLen) {
          var j = 0
          s = 0.0
          while (j < m) {
            var acc = 0.0
            var k = 0
            while (k < m) { acc += alpha(k) * a(k * m + j); k += 1 }
            next(j) = acc * math.max(gaussPdf(obs(t), means(j), sigmas(j)), 1e-300)
            s += next(j); j += 1
          }
          ll += math.log(s); j = 0
          while (j < m) { alpha(j) = next(j) / s; j += 1 }
          t += 1
        }
        ll
      }
      .reduce(_ + _)
  }

  /** Viterbi decode per frame: (traj_id, t, hidden). */
  def viterbi(traj: DataFrame, model: GaussianHmmModel, valueCol: String = "value"): DataFrame = {
    val spark = traj.sparkSession
    import spark.implicits._
    val m = model.transition.rows
    val a = graft.linalg.LinAlg.toFlat(model.transition)
    val pi = model.initial.toArray
    val means = model.means; val sigmas = model.sigmas
    TrajectoryScan.values(traj, valueCol, "GaussianHmm.viterbi")
      .flatMap { case (id, ts, obs) =>
        val tLen = obs.length
        val logA = a.map(v => math.log(math.max(v, 1e-300)))
        val delta = Array.ofDim[Double](tLen, m)
        val psi = Array.ofDim[Int](tLen, m)
        var i = 0
        while (i < m) {
          delta(0)(i) = math.log(math.max(pi(i), 1e-300)) +
            math.log(math.max(gaussPdf(obs(0), means(i), sigmas(i)), 1e-300))
          i += 1
        }
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
            delta(t)(j) = best + math.log(math.max(gaussPdf(obs(t), means(j), sigmas(j)), 1e-300))
            psi(t)(j) = arg
            j += 1
          }
          t += 1
        }
        val path = new Array[Int](tLen)
        path(tLen - 1) = (0 until m).maxBy(delta(tLen - 1)(_))
        t = tLen - 2
        while (t >= 0) { path(t) = psi(t + 1)(path(t + 1)); t -= 1 }
        ts.indices.iterator.map(i => (id, ts(i), path(i)))
      }
      .toDF("traj_id", "t", "hidden")
  }

  /** Generate synthetic observations from a hidden path + output model
    * (GaussianOutputModel.generate_observation_trajectory). */
  def generate(spark: org.apache.spark.sql.SparkSession, model: GaussianHmmModel,
               nTraj: Int, length: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val a = graft.linalg.LinAlg.toFlat(model.transition)
    val m = model.transition.rows
    val pi = model.initial.toArray
    val means = model.means; val sigmas = model.sigmas
    spark.range(nTraj.toLong).as[Long]
      .flatMap { id =>
        val rng = new java.util.SplittableRandom(seed ^ (id * 0x9E3779B97F4A7C15L))
        var s = {
          val u = rng.nextDouble(); var acc = 0.0; var i = 0; var r = m - 1
          var found = false
          while (i < m && !found) { acc += pi(i); if (u < acc) { r = i; found = true }; i += 1 }
          r
        }
        (0 until length).iterator.map { t =>
          val o = means(s) + sigmas(s) * rng.nextGaussian()
          val out = (id, t.toLong, s, o)
          // advance chain
          val u = rng.nextDouble(); var acc = 0.0; var j = 0; var next = m - 1
          var found = false
          while (j < m && !found) { acc += a(s * m + j); if (u < acc) { next = j; found = true }; j += 1 }
          s = next
          out
        }
      }
      .toDF("traj_id", "t", "hidden_true", "value")
  }
}
