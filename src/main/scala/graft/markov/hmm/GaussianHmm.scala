package graft.markov.hmm

import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
import org.apache.spark.sql.{DataFrame, Dataset}
import graft.markov.TransitionMatrixMle

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

  case class GaussianHmmModel(
      transition: DenseMatrix[Double],  // m x m
      means: Array[Double], sigmas: Array[Double],
      initial: DenseVector[Double],
      logLikelihood: Double, iterations: Int)

  private case class GStats(loglik: Double, xi: Array[Double],
                            gw: Array[Double], gwx: Array[Double], gwxx: Array[Double],
                            g0: Array[Double]) {
    def merge(o: GStats): GStats = {
      def add(a: Array[Double], b: Array[Double]): Array[Double] = {
        val r = a.clone; var i = 0
        while (i < r.length) { r(i) += b(i); i += 1 }
        r
      }
      GStats(loglik + o.loglik, add(xi, o.xi), add(gw, o.gw),
        add(gwx, o.gwx), add(gwxx, o.gwxx), add(g0, o.g0))
    }
  }

  @inline private def gaussPdf(x: Double, mu: Double, sigma: Double): Double = {
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

  private def trajectories(traj: DataFrame, valueCol: String): Dataset[(Long, Array[Double])] = {
    val spark = traj.sparkSession
    import spark.implicits._
    traj.selectExpr("traj_id", "t", s"CAST($valueCol AS DOUBLE) AS v")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (id, it) => (id, it.toArray.sortBy(_._2).map(_._3)) }
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
    * graft matches deliberately for parity. */
  case class GmmModel(weights: Array[Double], means: Array[Double],
                      sigmas: Array[Double], logLikelihood: Double,
                      iterations: Int)

  /** Distributed EM fit of a 1-d Gaussian mixture over the pooled
    * observation column (reference init/gaussian/_init_gaussian_impl.py:46
    * `GaussianMixture(n_components).fit`). Seeding is sklearn-parity:
    * k-means on the pooled values (via the exact 1-d Lloyd path,
    * deterministic seed) followed by the one-hot-responsibility M-step —
    * this is what lets a rare far-out mode claim its own component before
    * EM starts, which is the whole point of the reference's GMM init.
    * Then per iteration ONE codegen aggregation: the E-step
    * responsibilities are pure column expressions over the broadcast
    * (w, mu, sigma) literals and the M-step needs only the 3m
    * gamma-weighted sums (Σr, Σr·x, Σr·x²) plus the loglik — samples
    * never hit the driver, any data size is one scan per iteration.
    * reg_covar = 1e-6 as in sklearn; tol on the mean per-sample loglik. */
  def gmmFit(traj: DataFrame, nComponents: Int, valueCol: String = "value",
             maxIter: Int = 100, tol: Double = 1e-3,
             seed: Long = 42L,
             localThreshold: Long = BayesianHmm.LocalSweepThreshold): GmmModel = {
    import org.apache.spark.sql.functions._
    val m = nComponents
    val vals = traj.selectExpr(s"CAST($valueCol AS DOUBLE) AS v")
      .where(col("v").isNotNull).cache()
    // k-means seeding + one-hot M-step (sklearn GaussianMixture init)
    val centers = graft.clustering.KMeans
      .fit1dExact(vals.select(array(col("v")).as("features")), m, seed = seed)
      .centers.map(_(0))
    val mc = centers.length // < m only when the data has < m distinct values
    val dArr = array(centers.map(c => abs(col("v") - lit(c))): _*)
    val assign = array_position(dArr, array_min(dArr)) - 1 // first-min tie-break
    val seedAggs = (0 until mc).flatMap { j =>
      val in = when(assign === j, 1.0).otherwise(0.0)
      Seq(sum(in).as(s"n$j"), sum(in * col("v")).as(s"sx$j"),
        sum(in * col("v") * col("v")).as(s"sxx$j"))
    }
    val seedRow = vals.agg(seedAggs.head, seedAggs.tail: _*).collect()(0)
    val nTot = (0 until mc).map(j => seedRow.getDouble(3 * j)).sum
    require(nTot > 0,
      s"gmmFit: column '$valueCol' has no non-null values — cannot seed a " +
        s"$m-component mixture (an all-NaN model would otherwise be returned silently)")
    var means = new Array[Double](m)
    var sigmas = new Array[Double](m)
    var weights = new Array[Double](m)
    for (j <- 0 until m) {
      val nj = if (j < mc) seedRow.getDouble(3 * j) else 0.0
      if (nj > 0) {
        weights(j) = nj / nTot
        means(j) = seedRow.getDouble(3 * j + 1) / nj
        val v = seedRow.getDouble(3 * j + 2) / nj - means(j) * means(j)
        sigmas(j) = math.sqrt(math.max(v, 0.0) + 1e-6)
      } else { // empty/missing cluster: flat stand-in, EM reassigns it
        weights(j) = 1e-6
        means(j) = if (mc > 0) centers(j % mc) else 0.0
        sigmas(j) = 1.0
      }
    }
    var lastLl = Double.NegativeInfinity
    var ll = Double.NegativeInfinity
    var iter = 0
    var converged = false
    val invSqrt2Pi = 1.0 / math.sqrt(2.0 * math.Pi)
    // EM iterations run as an RDD aggregation over the cached value
    // column rather than per-iteration Column expressions: the (w, mu,
    // sigma) parameters only change LITERALS, and a literal change is a
    // new expression tree — Spark recompiled a fresh whole-stage codegen
    // unit for every one of up to 100 sequential iterations (~20-30 ms
    // each of pure janino time on this box, the dominant cost of q247 /
    // q253). The closure-captured parameter arrays keep the job
    // byte-identical in plan shape, so each iteration is one scheduling
    // round over the cached partitions — the same sanctioned shape as the
    // HMM EM loop. Accumulator layout: [r_j, rx_j, rxx_j]*m, ll, n.
    //
    // Size dispatch: the graft.util.Transport policy (nTot is already in
    // hand from the seed aggregation), written out here because the local
    // leg loops over an UNBOXED value column — a generic Transport item
    // type would box every value in every EM iteration.
    @inline def seqBody(acc: Array[Double], v: Double, w: Array[Double],
                        mu: Array[Double], sg: Array[Double], mm: Int): Array[Double] = {
      var tot = 0.0
      var j = 0
      val dens = new Array[Double](mm)
      while (j < mm) {
        val z = (v - mu(j)) / sg(j)
        val d = w(j) * invSqrt2Pi / sg(j) * math.exp(-0.5 * z * z)
        dens(j) = d; tot += d; j += 1
      }
      if (tot < 1e-300) tot = 1e-300
      j = 0
      while (j < mm) {
        val r = dens(j) / tot
        acc(3 * j) += r; acc(3 * j + 1) += r * v; acc(3 * j + 2) += r * v * v
        j += 1
      }
      acc(3 * mm) += math.log(tot); acc(3 * mm + 1) += 1.0
      acc
    }
    def combine(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }
    val localVals: Option[Array[Double]] =
      if (nTot <= localThreshold.toDouble) {
        val spark = traj.sparkSession
        import spark.implicits._
        Some(vals.as[Double].collect())
      } else None
    val rddOpt = if (localVals.isDefined) None else Some({
      val spark = traj.sparkSession
      import spark.implicits._
      vals.as[Double].rdd
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val chunk = 32768 // fixed -> deterministic for any core count
    try {
      while (iter < maxIter && !converged) {
        val (w, mu, sg) = (weights, means, sigmas)
        val mm = m
        val row = localVals match {
          case Some(arr) =>
            if (arr.length <= chunk) {
              val acc = new Array[Double](3 * mm + 2)
              var i = 0
              while (i < arr.length) { seqBody(acc, arr(i), w, mu, sg, mm); i += 1 }
              acc
            } else {
              val ranges = (0 until arr.length by chunk)
                .map(s0 => (s0, math.min(s0 + chunk, arr.length)))
              graft.util.Par.mapOrdered(ranges) { case (s0, e0) =>
                val acc = new Array[Double](3 * mm + 2)
                var i = s0
                while (i < e0) { seqBody(acc, arr(i), w, mu, sg, mm); i += 1 }
                acc
              }.reduce(combine)
            }
          case None => rddOpt.get.treeAggregate(new Array[Double](3 * mm + 2))(
            (acc, v) => seqBody(acc, v, w, mu, sg, mm),
            (a, b) => combine(a, b))
        }
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
    } finally {
      rddOpt.foreach(_.unpersist(blocking = false))
      vals.unpersist()
    }
    GmmModel(weights, means, sigmas, ll, iter)
  }

  /** Reference-parity initial guess (init/gaussian/_init_gaussian_impl.py:
    * `from_data`): fit a Gaussian mixture to the pooled observations,
    * take its (means, sigmas) as the output model, accumulate FRACTIONAL
    * state-membership transition counts Nij = Σ_t pobs_t ⊗ pobs_{t+1}
    * (pobs = per-frame state likelihoods row-normalized, NO mixture
    * weights — exactly `to_state_probability_trajectory`), run the MLE
    * transition estimator on Nij, and start from its stationary vector.
    *
    * Distributed shape: the Nij accumulation is one window lead() per
    * trajectory plus a single m²-column aggregation of pure column
    * expressions — no per-trajectory collect, no shuffle beyond the
    * window's traj partitioning. */
  def initialGuessGmm(traj: DataFrame, nHidden: Int, valueCol: String,
                      reversible: Boolean = true,
                      precomputedGmm: Option[GmmModel] = None,
                      localThreshold: Long = BayesianHmm.LocalSweepThreshold): GaussianHmmModel = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val m = nHidden
    // callers that already ran the distributed EM (q253's battery checks
    // the GMM itself AND the init built from it) pass it in rather than
    // paying a second full fit
    val gmm = precomputedGmm.getOrElse(
      gmmFit(traj, m, valueCol, localThreshold = localThreshold))
    val invSqrt2Pi = 1.0 / math.sqrt(2.0 * math.Pi)
    def stateProbs(v: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
      val dens = (0 until m).map { j =>
        val z = (v - lit(gmm.means(j))) / lit(gmm.sigmas(j))
        lit(invSqrt2Pi / gmm.sigmas(j)) * exp(lit(-0.5) * z * z)
      }
      val tot = dens.reduce(_ + _)
      // outlier guard (_output_model.py ignore_outliers): all-zero row
      // of state likelihoods normalizes to uniform, not NaN
      dens.map(d => when(tot < 1e-300, lit(1.0 / m)).otherwise(d / tot))
    }
    val w = Window.partitionBy("traj_id").orderBy("t")
    val pairs = traj
      .selectExpr("traj_id", "t", s"CAST($valueCol AS DOUBLE) AS v")
      .withColumn("vn", lead(col("v"), 1).over(w))
      .where(col("vn").isNotNull)
    val p = stateProbs(col("v"))
    val q = stateProbs(col("vn"))
    val aggs = for (i <- 0 until m; j <- 0 until m)
      yield sum(p(i) * q(j)).as(s"n_${i}_$j")
    val row = pairs.agg(aggs.head, aggs.tail: _*).collect()(0)
    val nij = DenseMatrix.tabulate(m, m)((i, j) => row.getDouble(i * m + j))
    val a = if (reversible) TransitionMatrixMle.reversible(nij)
            else TransitionMatrixMle.nonReversible(nij)
    val pi = graft.linalg.LinAlg.stationaryDistribution(a)
    GaussianHmmModel(a, gmm.means, gmm.sigmas, pi,
      Double.NegativeInfinity, 0)
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
    val m = nHidden
    if (init != "gmm" && init != "quantile") throw new IllegalArgumentException(
      s"GaussianHmm.fit: unknown init '$init'. Must be one of gmm, quantile.")
    // The size is taken before the initial guess, so an empty frame fails
    // with the precondition rather than inside the GMM seeding.
    val trajs = trajectories(traj, valueCol).cache()
    try {
      val transport = graft.util.Transport.byId(trajs, localThreshold)(_.length)
        .requireNonEmpty("GaussianHmm.fit",
          s"observation frame (no (traj_id, t, $valueCol) rows)")
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
            _.map(t => forwardBackward(t._2, a, pi, means, sigmas, m)).reduce(_ merge _))(
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
        model = GaussianHmmModel(aNew, meansNew, sigmasNew, piNew, stats.loglik, iter + 1)
        iter += 1
      }
      model
    } finally trajs.unpersist()
  }

  /** True data log-likelihood of a fitted model: the scaled forward pass
    * per trajectory, summed — with per-frame likelihoods FLOORED at
    * 1e-300 rather than outlier-flattened, so a model that assigns ~zero
    * probability to real samples is scored accordingly (the training
    * loop's ignore_outliers flattening deliberately hides that, which is
    * right for EM robustness but wrong for model comparison). */
  def scoreLogLikelihood(traj: DataFrame, model: GaussianHmmModel,
                         valueCol: String = "value"): Double = {
    val spark = traj.sparkSession
    import spark.implicits._
    val m = model.transition.rows
    val a = graft.linalg.LinAlg.toFlat(model.transition)
    val pi = model.initial.toArray
    val means = model.means; val sigmas = model.sigmas
    trajectories(traj, valueCol)
      .map { case (_, obs) =>
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
    traj.selectExpr("traj_id", "t", s"CAST($valueCol AS DOUBLE) AS v")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (id, it) =>
        val rows = it.toArray.sortBy(_._2)
        val obs = rows.map(_._3)
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
        rows.iterator.zip(path.iterator).map { case ((_, tt, _), h) => (id, tt, h) }
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
