package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Trajectories
import graft.lag.{Lag, TrajectoryScan}
import graft.agg.Covariance
import graft.linalg.LinAlg
import graft.markov.TransitionCounting
import graft.queries.QShared._

/** MarkovBatteryQueries: the three big invariant batteries (q71 model
  * invariants, q73 estimator invariants, q85 sensitivities) split out of
  * MarkovQueries to keep every registry file under the 1,500-line bar.
  * Entry bodies are UNCHANGED; graft.SparkEntry merges every family into
  * the single `queries` / `oracleSql` maps the driver consumes, and
  * ContractSpec keeps the key sets equal. */
private[graft] object MarkovBatteryQueries extends QueryFamily {
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- model-invariant battery (reference property-test style:
    // tests/markov/msm/test_msm_basic_properties.py checks P^k pi = pi etc.)
    // Each row is a named invariant VIOLATION measure that must round to
    // exactly 0.0; the oracle pins the full expected (check, violation)
    // set, so any broken driver-side linear-algebra path (MLE, committors,
    // PCCA, TPT, VAMP whitening, rate matrices) flips the hash. ----------
    "q71_model_invariants" -> ((s, dir) => {
      import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
      val counts = TransitionCounting.slidingCounts(dtrajEv(s, dir), 1)
      val msmRev = graft.markov.Msm.fromCounts(counts, 5, tau = 1, reversible = true)
      val msmNon = graft.markov.Msm.fromCounts(counts, 5, tau = 1, reversible = false)
      val n = msmRev.n
      val t = msmRev.transitionMatrix
      val pi = msmRev.stationaryDistribution
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max

      val checks = scala.collection.mutable.LinkedHashMap[String, Double]()
      checks("rev_rowsums") = maxAbs((0 until n).map(i => bsum(t(i, ::).t) - 1.0))
      checks("rev_detailed_balance") = maxAbs(
        for (i <- 0 until n; j <- 0 until n) yield pi(i) * t(i, j) - pi(j) * t(j, i))
      checks("pi_stationarity") = maxAbs((0 until n).map(j =>
        (0 until n).map(i => pi(i) * t(i, j)).sum - pi(j)))
      checks("pi_normalized") = math.abs(bsum(pi) - 1.0)
      // endpoint states in MODEL indexing (robust to a largest-connected
      // set smaller than the raw state count)
      val a = Set(0); val b = Set(msmNon.n - 1)
      val tn = msmNon.transitionMatrix
      val nn = msmNon.n
      val qf = msmNon.committorForward(a, b)
      checks("committor_bvp") = maxAbs(
        (0 until nn).filterNot(i => a.contains(i) || b.contains(i)).map(i =>
          (0 until nn).map(j => tn(i, j) * qf(j)).sum - qf(i)))
      val tgt = nn - 1
      val mfptVec = msmNon.mfpt(Set(tgt))
      checks("mfpt_linear_system") = maxAbs(
        (0 until nn).filter(_ != tgt).map(i =>
          1.0 + (0 until nn).filter(_ != tgt).map(j => tn(i, j) * mfptVec(j)).sum - mfptVec(i)))
      val pcca = graft.markov.Pcca(msmRev, 2)
      checks("pcca_membership_rowsums") = maxAbs((0 until n).map(i =>
        pcca.memberships(i, 0) + pcca.memberships(i, 1) - 1.0))
      checks("pcca_membership_nonneg") = maxAbs(
        (for (i <- 0 until n; k <- 0 until 2) yield math.min(pcca.memberships(i, k), 0.0)))
      // VAMP whitening identity: U' C00 U = I on the kept components
      val cov = Covariance.fit(liPairs(s, dir))
      val vamp = graft.decomposition.Vamp.fitFromCovariance(cov, 1)
      val d = cov.d; val k = vamp.k
      val c00 = DenseMatrix.tabulate(d, d)((i, j) => cov.cov00(i * d + j))
      val u = DenseMatrix.tabulate(d, k)((i, j) => vamp.u(i * k + j))
      val whiten = u.t * c00 * u
      checks("vamp_whitening_identity") = maxAbs(
        for (i <- 0 until k; j <- 0 until k) yield whiten(i, j) - (if (i == j) 1.0 else 0.0))
      // rate matrices: generator validity + detailed balance of KL estimate
      val kPseudo = graft.markov.MsmAnalysis.pseudoGenerator(t, 1.0)
      checks("pseudo_generator_valid") =
        if (graft.markov.RateMatrix.isRateMatrix(kPseudo, 1e-10)) 0.0 else 1.0
      // KL over the SAME largest-connected-set restriction msmRev uses, so
      // pi's indexing always matches the count submatrix (the full 5x5
      // frame would mismatch whenever a state is disconnected)
      val denseAll = TransitionCounting.toDense(counts, 5)
      val lcsStates = graft.markov.Connectivity.largestConnectedSet(denseAll)
      val denseCounts = graft.markov.Connectivity.submatrix(denseAll, lcsStates)
      val kKl = graft.markov.RateMatrix.estimate(denseCounts, dt = 1.0, method = "KL",
        piOpt = Some(pi), tol = 1e4)
      checks("kl_generator_valid") =
        if (graft.markov.RateMatrix.isRateMatrix(kKl, 1e-8)) 0.0 else 1.0
      checks("kl_detailed_balance") = maxAbs(
        for (i <- 0 until n; j <- 0 until n) yield pi(i) * kKl(i, j) - pi(j) * kKl(j, i))
      import s.implicits._
        checks.toSeq.map { case (name, v) => (name, r6(v) + 0.0) }
        .toDF("check", "violation")
    }),

    // ---- iterative-estimator invariant battery (q71's counterpart for
    // the EM / Gibbs / spectral-correction family whose values cannot have
    // SQL twins; every violation must round to exactly 0.0) -------------
    "q73_estimator_invariants" -> ((s, dir) => {
      import breeze.linalg.{DenseMatrix, sum => bsum}
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max
      def stochViolation(t: DenseMatrix[Double]): Double = math.max(
        maxAbs((0 until t.rows).map(i => bsum(t(i, ::).t) - 1.0)),
        maxAbs(for (i <- 0 until t.rows; j <- 0 until t.cols)
          yield math.min(t(i, j), 0.0)))
      val checks = scala.collection.mutable.LinkedHashMap[String, Double]()
      // ONE Spark job for the whole battery: collect the model-sized dtraj
      // as per-trajectory arrays, in traj_id order so the float sums below
      // do not follow the partition order, then feed every estimator (HMM
      // EM, Gibbs posterior, OOM, AMM) from shared driver-side counts. The
      // distributed fit paths stay the scale story (q38/q46/q58/q61);
      // this battery verifies per-iterate invariants, which hold at any
      // iteration count — 5 EM sweeps prove the same contract as 15.
      val trajArrays: Seq[Array[Int]] =
        TrajectoryScan.states(dtrajEv(s, dir), "q73_estimator_invariants")
          .collect().sortBy(_._1).map(_._3).toSeq
      val counts = TransitionCounting.slidingCountsLocal(trajArrays, 1, 5)
      val hmmTrajs = trajArrays.map(_.filter(_ >= 0)).filter(_.nonEmpty)

      val hmm = graft.markov.hmm.Hmm.fitArrays(hmmTrajs, nHidden = 2, nObs = 5,
        maxIter = 5)
      checks("hmm_transition_stochastic") = stochViolation(hmm.transition)
      checks("hmm_emission_stochastic") = stochViolation(hmm.emission)

      // HMM CK test (hmm/_hidden_markov_model.py:313 via identity
      // memberships): the lag-tau prediction IS the lag-tau estimate
      // (same model, first power — a nontrivial wiring check because the
      // two come through different code paths: matPow vs the aligned
      // estimate map), every propagator row stays a distribution, and
      // the prediction at lag 2*tau must be the exact SQUARE of the
      // lag-tau transition matrix (the Chapman-Kolmogorov propagation
      // itself, algebraically exact regardless of the data)
      val ck = graft.markov.hmm.HmmValidation.ckTestArrays(hmmTrajs,
        nHidden = 2, nObs = 5, tau = 1, steps = 2, maxIter = 5)
      checks("hmm_ck_lag1_pred_eq_est") = maxAbs(
        for (i <- 0 until 2; j <- 0 until 2)
          yield ck.predictions(1)(i, j) - ck.estimates(1)(i, j))
      val aSq = ck.estimates(1) * ck.estimates(1)
      checks("hmm_ck_pred2_is_square") = maxAbs(
        for (i <- 0 until 2; j <- 0 until 2)
          yield ck.predictions(2)(i, j) - aSq(i, j))
      checks("hmm_ck_rows_stochastic") = maxAbs(
        (ck.predictions ++ ck.estimates).flatMap(m => (0 until m.rows).map(i =>
          bsum(m(i, ::).t) - 1.0)))

      // Gibbs posterior: every sample must be a reversible transition matrix
      val lcs = graft.markov.Connectivity.largestConnectedSet(counts)
      val post = graft.markov.BayesianMsm.fromCountsLocal(
        graft.markov.Connectivity.submatrix(counts, lcs), tau = 1, states = lcs,
        nSamples = 20, reversible = true, seed = 42L, nChains = 4)
      checks("bayes_samples_stochastic") =
        maxAbs(post.samples.map(m => stochViolation(m.transitionMatrix)))
      checks("bayes_samples_detailed_balance") = maxAbs(post.samples.map { m =>
        val pi = m.stationaryDistribution
        maxAbs(for (i <- 0 until m.n; j <- 0 until m.n)
          yield pi(i) * m.transitionMatrix(i, j) - pi(j) * m.transitionMatrix(j, i))
      })

      // OOM equilibrium correction preserves row normalization
      val oom = graft.markov.Oom.fitFromCounts(counts,
        graft.markov.Oom.twoStepCountsLocal(trajArrays, 1), tau = 1,
        rankTol = 2.0, nbs = 50)
      checks("oom_rows_normalized") = maxAbs(
        (0 until oom.transitionMatrix.rows).map(i =>
          bsum(oom.transitionMatrix(i, ::).t) - 1.0))

      // AMM: biased model is a proper MSM with a normalized stationary dist
      val eObs = breeze.linalg.DenseMatrix.tabulate(5, 1)((i, _) => i.toDouble)
      val amm = graft.markov.Amm.fit(counts, eObs,
        breeze.linalg.DenseVector(2.3), breeze.linalg.DenseVector(2.0))
      checks("amm_transition_stochastic") = stochViolation(amm.transitionMatrix)
      checks("amm_pi_normalized") = math.abs(bsum(amm.stationaryDistribution) - 1.0)

      import s.implicits._
        checks.toSeq.map { case (name, v) => (name, r6(v) + 0.0) }
        .toDF("check", "violation")
    }),

    // Sensitivity family made oracle-visible (markov/Sensitivity.scala was
    // the one §2.6 family with spec-only coverage): every row is a
    // driver-exact algebraic identity of the sensitivity matrices — NOT a
    // finite-difference approximation — so the residuals round to literal
    // zeros on any data:
    //   * eigenvalue sensitivity S = outer(l_k, r_k): bi-orthonormality
    //     makes trace(S) = l_k . r_k = 1, and rank-1 structure zeroes all
    //     2x2 minors;
    //   * timescale sensitivity is the exact chain-rule multiple of S;
    //   * sum_j dpi_j/dT = 0 (pi stays normalized under any perturbation),
    //     checked through expectationSensitivity(ones) = sum of all
    //     per-component pi sensitivities;
    //   * mfpt/committor sensitivities: the ADJOINT-solve implementation is
    //     replayed by independent FORWARD solves of the perturbed linear
    //     systems (dm = -A^-1 E m; u dq = -E qbar) over every (a,b).
    // The state count has an exact SQL twin.
    "q85_sensitivities" -> ((s, dir) => {
      import breeze.linalg.{DenseMatrix, DenseVector}
      import graft.markov.{Sensitivity, TransitionCounting}
      val counts = TransitionCounting.slidingCounts(dtrajEv(s, dir), 1)
      val msm = graft.markov.Msm.fromCounts(counts, 5, tau = 1, reversible = true)
      val t = msm.transitionMatrix
      val n = msm.n
      def maxAbs(xs: Iterable[Double]): Double =
        if (xs.isEmpty) 0.0 else xs.map(math.abs).max

      val sEig = Sensitivity.eigenvalueSensitivity(t, 1)
      val traceResid = (0 until n).map(i => sEig(i, i)).sum - 1.0
      val rank1Resid = maxAbs(for {
        i <- 0 until n; j <- 0 until n; k <- 0 until n; l <- 0 until n
      } yield sEig(i, j) * sEig(k, l) - sEig(i, l) * sEig(k, j))

      val e = breeze.linalg.eig(t)
      val lam = (0 until n).map(e.eigenvalues(_)).sorted(Ordering[Double].reverse)(1)
      val factor = 1.0 / (lam * math.log(lam) * math.log(lam))
      val sTs = Sensitivity.timescaleSensitivity(t, 1, tau = 1.0)
      val chainResid = maxAbs(for (i <- 0 until n; j <- 0 until n)
        yield sTs(i, j) - factor * sEig(i, j))

      // sum_j dpi_j/dT == 0 through the public expectation API (a = ones)
      val sOnes = Sensitivity.expectationSensitivity(t, DenseVector.ones[Double](n))
      val piSumResid = maxAbs(sOnes.toArray)

      // eigenvector sensitivity preserves the unit norm: ||v_k|| = 1 for
      // every T, so sum_j v_j d(v_j)/dT_ab == 0 (adjoint-solve identity)
      val perm = (0 until n).sortBy(i => -e.eigenvalues(i))
      val vK = DenseVector.tabulate(n)(i => e.eigenvectors(i, perm(1)))
      val evSens = (0 until n).map(j => Sensitivity.eigenvectorSensitivity(t, 1, j))
      val evNormResid = maxAbs(for (a <- 0 until n; b <- 0 until n) yield
        (0 until n).map(j => vK(j) * evSens(j)(a, b)).sum)

      // mfpt: forward replay dm = -A^-1 (E_ab m) vs the adjoint solve
      val target = n - 1; val jM = 0
      val sMfpt = Sensitivity.mfptSensitivity(t, target, jM)
      val matA = t - DenseMatrix.eye[Double](n)
      for (c <- 0 until n) matA(target, c) = 0.0
      matA(target, target) = 1.0
      val tVec = DenseVector.fill(n)(-1.0); tVec(target) = 0.0
      val mfpt = matA \ tVec
      val mfptResid = maxAbs(for (a <- 0 until n if a != target; b <- 0 until n) yield {
        val rhs = DenseVector.zeros[Double](n); rhs(a) = -mfpt(b)
        val dm = matA \ rhs
        sMfpt(a, b) - dm(jM)
      })

      // committor: forward replay u dq = -e_a qbar(b) vs the adjoint solve
      val aSet = Set(0); val bSet = Set(n - 1); val idx = 1
      val sQ = Sensitivity.forwardCommittorSensitivity(t, aSet, bSet, idx)
      val notAB = (0 until n).filterNot(x => aSet(x) || bSet(x)).toArray
      val m = notAB.length
      val kMat = t - DenseMatrix.eye[Double](n)
      val u = DenseMatrix.tabulate(m, m)((i, j) => kMat(notAB(i), notAB(j)))
      val v = DenseVector.tabulate(m)(i => -bSet.toSeq.map(x => kMat(notAB(i), x)).sum)
      val qI = u \ v
      val qBar = DenseVector.zeros[Double](n)
      bSet.foreach(x => qBar(x) = 1.0)
      notAB.zipWithIndex.foreach { case (x, i) => qBar(x) = qI(i) }
      val idxPos = notAB.indexOf(idx)
      val qResid = maxAbs(for (ai <- notAB.indices; b <- 0 until n) yield {
        val rhs = DenseVector.zeros[Double](m); rhs(ai) = -qBar(b)
        val dq = u \ rhs
        sQ(notAB(ai), b) - dq(idxPos)
      })

      checksDf(s, Seq(
        "eig_trace_minus_one" -> traceResid,
        "eig_rank1_minors" -> rank1Resid,
        "timescale_chain" -> chainResid,
        "pi_sens_sum" -> piSumResid,
        "eigvec_norm_preserved" -> evNormResid,
        "mfpt_adjoint_vs_forward" -> mfptResid,
        "committor_adjoint_vs_forward" -> qResid,
        "n_states" -> n.toDouble))
    }),

    // ---- TRAM thermodynamic-overlap statistic (q245): the post_hoc_RE
    // connectivity kernel (reference connected_set.h
    // OverlapPostHocReplicaExchange) as a DISTRIBUTED query — per
    // (markov_state, k, l) ensemble pair, the estimated replica-exchange
    // acceptance n_sum = Σ min(e^Δ, 1) over all sample pairs binned in
    // that Markov state, plus the acceptance criterion
    // (n+m)·n_avg·factor ≥ 1. One self-join keyed on the Markov state;
    // at 100 TB the fan-out stays within-state and the bias payload is a
    // fixed K-vector — no all-pairs anywhere. Ensembles and biases are
    // derived deterministically from the dtraj (therm = t mod 3, bias a
    // closed form of t); the per-cell 40-sample cap — the bound on the
    // within-state quadratic fan-out — lives in the library API
    // (TramDataset.postHocOverlap maxSamplesPerCell), not here. ----------
    "q245_tram_overlap" -> ((s, dir) => {
      val sampled = dtrajEv(s, dir).where(col("state") >= 0)
        .withColumn("therm", (col("t") % 3).cast("int"))
        .select(col("state").as("markov_state"), col("therm"),
          array((0 to 2).map(k =>
            lit(0.3) * ((col("t") * 7 + lit(k * 13)) % 5).cast("double")): _*)
            .as("bias"),
          col("traj_id"), col("t"))
      graft.markov.TramDataset
        .postHocOverlap(sampled, maxSamplesPerCell = 40,
          orderCols = Seq("traj_id", "t"))
        .select(col("markov_state"), col("k"), col("l"), col("n_pairs"),
          col("n_sum"), col("n_avg"),
          when((col("n_k") + col("m_l")).cast("double") * col("n_avg") >= 1.0,
            1L).otherwise(0L).as("overlap"))
    }),

    // ---- TRAM connected-set restriction (q246): TRAMDataset
    // restrict_to_largest_connected_set end-to-end (reference
    // _tram_dataset.py:309) on a DELIBERATELY DISCONNECTED two-ensemble
    // construction: ensemble 0 (even users) keeps states 0..4, ensemble 1
    // (odd users) lives on the disjoint block 5..8 — the joint space
    // splits into a 5-state and a 4-state component, so the largest
    // summed-count SCC is exactly ensemble 0's block and the restriction
    // must zero ensemble 1 out entirely (its dtraj becomes all -1). The
    // output is the full (therm × state) grid of post-restriction state
    // counts and per-state outgoing transition counts; the twin replays
    // the expected restriction in closed form. Assumes (and the data
    // guarantees, same q85 discipline) ensemble 0's 5 states form one
    // SCC. The dtraj collect is the documented TRAM driver boundary
    // (model-sized fixture, Tram.fit contract). --------------------------
    "q246_tram_restrict" -> ((s, dir) => {
      val d = dtrajEv(s, dir).where(col("state") >= 0)
        .withColumn("ens", (col("traj_id") % 2).cast("int"))
        .withColumn("st", when(col("ens") === 0, col("state"))
          .otherwise(least(col("state"), lit(3)) + 5))
        .select("ens", "traj_id", "t", "st")
        .orderBy("ens", "traj_id", "t")
        .collect()
      val byEns = Array(0, 1).map(e =>
        d.filter(_.getInt(0) == e).map(_.getInt(3)))
      val bias = byEns.map(tr => Array.fill(tr.length)(Array.fill(2)(1.0)))
      val ds = new graft.markov.TramDataset(byEns, bias,
        nMarkovStatesOpt = Some(9))
      ds.restrictToLargestConnectedSet("summed_count_matrix")
      val sc = ds.stateCounts
      val tc = ds.transitionCounts
      import s.implicits._
      (for (k <- 0 until 2; st <- 0 until 9) yield
        (k, st, sc(k)(st),
          (0 until 9).map(j => tc(k)(st, j)).sum.toLong))
        .toDF("therm", "state", "n_samples", "n_trans_out")
    }),

    // ---- Bayesian HMM over GAUSSIAN outputs (q247): the Gibbs sampler
    // with posterior (μ, σ) draws per hidden state (reference
    // _bayesian_hmm.py + GaussianOutputModel.sample, Jeffreys prior) run
    // over the per-user event VALUE series — every posterior sample must
    // be a valid model (stochastic transitions, normalized initial
    // distribution, positive σ) and the sampled means must stay inside
    // the observed value span (+1 margin: μ_k = x̄_k + noise/√n_k).
    // Sweep passes are the documented distributed shape: FFBS per
    // trajectory on the executors, only (m² + 3m) sufficient statistics
    // reduced. Recovery accuracy is spec-gated (BayesianHmmSpec). --------
    "q247_bayes_gauss_hmm" -> ((s, dir) => {
      val ev = Trajectories.events(s, dir)
        .select(col("user_id").cast("long").as("traj_id"),
          col("ts").as("t"), col("value"))
      val post = graft.markov.hmm.BayesianHmm.fitGaussian(ev, nHidden = 2,
        nSamples = 10, seed = 47L, maxIterMl = 10)
      val (lo, hi) = post.prior.span.get // the values the ML fit saw
      val (vLo, vHi) = (lo - 1.0, hi + 1.0)
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max
      val stochResid = maxAbs(post.samples.flatMap(m =>
        (0 until 2).map(i => breeze.linalg.sum(m.transition(i, ::).t) - 1.0)))
      val piResid = maxAbs(post.samples.map(m =>
        breeze.linalg.sum(m.initial) - 1.0))
      val sigViol = maxAbs(post.samples.flatMap(_.sigmas.map(sg => math.min(sg, 0.0))))
      val muViol = maxAbs(post.samples.flatMap(_.means.map(mu =>
        math.max(0.0, math.max(vLo - mu, mu - vHi)))))
      checksDf(s, Seq(
        "n_samples" -> post.samples.size.toDouble,
        "trans_stochastic" -> stochResid,
        "pi_normalized" -> piResid,
        "sigmas_positive" -> sigViol,
        "mu_within_span" -> muViol))
    }),

    // ---- fingerprint / expected-counts identity battery (q248): the two
    // §2.6 analysis families that were spec-only made oracle-visible.
    // Spectral replay vs direct propagation (genuinely independent code
    // paths — rdlReversible eigendecomposition vs iterated matvec) plus
    // the closed-form count-conservation identities of expected_counts
    // (reference analysis/_fingerprints.py, tools/analysis/_api.py:758).
    "q248_msm_fingerprints" -> ((s, dir) => {
      import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
      import graft.markov.MsmAnalysis
      val counts = TransitionCounting.slidingCounts(dtrajEv(s, dir), 1)
      val msm = graft.markov.Msm.fromCounts(counts, 5, tau = 1, reversible = true)
      val t = msm.transitionMatrix
      val n = msm.n
      val pi = msm.stationaryDistribution
      val obsA = DenseVector.tabulate(n)(i => i.toDouble)
      val obsB = DenseVector.tabulate(n)(i => (i * i).toDouble / n)
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max

      val times = 0 to 5
      // correlation: direct <pi.a | T^t | b> vs fingerprint spectral sum
      val corrDirect = MsmAnalysis.correlation(t, obsA, obsB, times)
      val (r, vals, l) = MsmAnalysis.rdlReversible(t)
      val wA = DenseVector.tabulate(n)(i => pi(i) * obsA(i))
      val amps = (0 until n).map(k => (wA dot r(::, k)) * (l(k, ::).t dot obsB))
      val corrSpectral = times.map(tt =>
        (0 until n).map(k => math.pow(vals(k), tt) * amps(k)).sum)
      val corrResid = maxAbs(times.indices.map(i => corrDirect(i) - corrSpectral(i)))

      // relaxation from a point mass: direct vs spectral
      val p0 = DenseVector.zeros[Double](n); p0(0) = 1.0
      val relaxDirect = MsmAnalysis.relaxation(t, p0, obsB, times)
      val ampsR = (0 until n).map(k => (p0 dot r(::, k)) * (l(k, ::).t dot obsB))
      val relaxSpectral = times.map(tt =>
        (0 until n).map(k => math.pow(vals(k), tt) * ampsR(k)).sum)
      val relaxResid = maxAbs(times.indices.map(i => relaxDirect(i) - relaxSpectral(i)))

      // relaxation limit -> stationary expectation
      val relaxInf = MsmAnalysis.relaxation(t, p0, obsB, Seq(2000)).head
      val expect = pi dot obsB
      val limitResid = relaxInf - expect

      // expected counts conserve total probability mass: sum E[C^(N)] = N
      val nSteps = 7
      val ec = MsmAnalysis.expectedCounts(t, p0, nSteps)
      val totalResid = bsum(ec) - nSteps.toDouble
      // stationary: row sums N*pi_i, and expectedCounts from pi IS stationary
      val ecS = MsmAnalysis.expectedCountsStationary(t, nSteps)
      val rowResid = maxAbs((0 until n).map(i =>
        bsum(ecS(i, ::).t) - nSteps * pi(i)))
      val ecPi = MsmAnalysis.expectedCounts(t, pi, nSteps)
      val statResid = maxAbs(for (i <- 0 until n; j <- 0 until n)
        yield ecPi(i, j) - ecS(i, j))

      checksDf(s, Seq(
        "corr_direct_vs_spectral" -> corrResid,
        "relax_direct_vs_spectral" -> relaxResid,
        "relax_limit_vs_expectation" -> limitResid,
        "expected_counts_total" -> totalResid,
        "expected_counts_stationary_rows" -> rowResid,
        "expected_counts_pi_is_stationary" -> statResid,
        "n_states" -> n.toDouble))
    }),

    // ---- TRAM model evaluation surface (q252): the fitted-model methods
    // a multi-ensemble user calls after `fit` (reference _tram_model.py:
    // compute_sample_weights_log :124, compute_observable :163,
    // compute_PMF :198, compute_log_likelihood :245) — normalized sample
    // weights are a distribution (unbiased AND per-ensemble), the
    // weighted constant observable is exactly 1, the state-binned PMF is
    // finite on every occupied state, and the log-likelihood is finite.
    // Weights run DISTRIBUTED (model-sized literals + one scalar
    // normalizer aggregate; the sample table never hits the driver). ----
    "q252_tram_weights" -> ((s, dir) => {
      val d = dtrajEv(s, dir).where(col("state") >= 0)
      val biasVec = Seq(2.0, 1.5, 1.0, 0.5, 0.0)
      def withBias(df: DataFrame): DataFrame = df.withColumn("bias",
        array(lit(0.0), element_at(typedLit(biasVec), col("state") + 1)))
      val d0 = withBias(d)
      val d1 = withBias(Lag.strided(d, 2))
      val input = graft.markov.Tram.inputFromFrames(Seq(d0, d1), tau = 1, nMarkov = 5)
      val model = graft.markov.Tram.fit(input, maxIter = 100, maxErr = 1e-8)
      val samples = d0.select(col("state"), col("bias"))
      // ONE unbiased weight pipeline serves the sum check and the
      // state-binned PMF (computePmf would rebuild it); the biased sum
      // and the observable exercise their own public API paths
      val wUnb = graft.markov.Tram.sampleWeightsLog(samples, model)
        .localCheckpoint()
      val sumUnb = wUnb.agg(sum(exp(col("log_weight"))))
        .collect()(0).getDouble(0)
      val pmfRows = wUnb.groupBy(col("state"))
        .agg(sum(exp(col("log_weight"))).as("w")).collect()
        .map(r => r.getInt(0) -> -math.log(r.getDouble(1))).toMap
      val pmf = Array.tabulate(5)(b =>
        pmfRows.getOrElse(b, Double.PositiveInfinity))
      val sumBias = graft.markov.Tram.sampleWeightsLog(samples, model, 0)
        .agg(sum(exp(col("log_weight")))).collect()(0).getDouble(0)
      val obsOne = graft.markov.Tram.computeObservable(
        samples.withColumn("one", lit(1.0)), model, "one")
      val ll = graft.markov.Tram.logLikelihood(model, input)
      checksDf(s, Seq(
        "weights_sum_one" -> (sumUnb - 1.0),
        "weights_sum_one_biased" -> (sumBias - 1.0),
        "observable_of_one" -> (obsOne - 1.0),
        "pmf_occupied_finite" ->
          (if (pmf.forall(v => !v.isNaN && !v.isInfinite)) 0.0 else 1.0),
        "pmf_is_distribution" -> (pmf.map(v => math.exp(-v)).sum - 1.0),
        "loglik_finite" -> (if (ll.isNaN || ll.isInfinite) 1.0 else 0.0)))
    }),

    // ---- Gaussian-HMM GMM-parity init battery (q253): the reference's
    // init/gaussian/_init_gaussian_impl.py heuristic — GMM (k-means-seeded
    // EM over the value histogram) + fractional-membership transition
    // counts (one per-trajectory pass) + MLE + stationary start —
    // gated on its contract: stochastic rows, normalized start, positive
    // sigmas, strictly separated means inside the data span, and the
    // GMM's own invariants (weights simplex, loglik finite). ------------
    "q253_gauss_hmm_gmm_init" -> ((s, dir) => {
      val ev = Trajectories.events(s, dir)
        .select(col("user_id").cast("long").as("traj_id"),
          col("ts").as("t"), col("value"))
      val gmm = graft.markov.hmm.GaussianHmm.gmmFit(ev, 2)
      val init = graft.markov.hmm.GaussianHmm.initialGuessGmm(ev, 2, "value",
        precomputedGmm = Some(gmm))
      val (vLo, vHi) = (gmm.span._1 - 1.0, gmm.span._2 + 1.0)
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max
      val stochResid = maxAbs((0 until 2).map(i =>
        breeze.linalg.sum(init.transition(i, ::).t) - 1.0))
      val negResid = maxAbs(init.transition.toArray.map(v => math.min(v, 0.0)))
      val muViol = maxAbs(init.means.map(mu =>
        math.max(0.0, math.max(vLo - mu, mu - vHi))))
      checksDf(s, Seq(
        "n_states" -> init.transition.rows.toDouble,
        "trans_stochastic" -> stochResid,
        "trans_nonnegative" -> negResid,
        "pi_normalized" -> (breeze.linalg.sum(init.initial) - 1.0),
        "sigmas_positive" ->
          (if (init.sigmas.forall(_ > 0)) 0.0 else 1.0),
        "means_strictly_separated" ->
          (if (math.abs(init.means(0) - init.means(1)) > 1e-6) 0.0 else 1.0),
        "means_within_span" -> muViol,
        "gmm_weights_simplex" -> maxAbs(
          Seq(gmm.weights.sum - 1.0) ++ gmm.weights.map(w => math.min(w, 0.0))),
        "gmm_loglik_finite" ->
          (if (gmm.logLikelihood.isNaN || gmm.logLikelihood.isInfinite) 1.0 else 0.0)))
    }),

    // ---- sensitivity VALUE replay on a closed-form 2-state chain
    // (q254): q85 gates the sensitivity machinery's internal identities
    // at zero; this battery replays ACTUAL sensitivity values. Coarse-
    // grain the event dtraj to 2 states (state mod 2), row-normalize the
    // sliding counts (a = T01, b = T10 — plain SQL), and the machinery's
    // outputs have closed forms the twin recomputes from the data:
    // dλ₂/dT = outer((1,-1)/(a+b), (a,-b)), dts₂ = dλ₂/(λ₂ ln²λ₂),
    // dmfpt₁→₀/dT₁₁ = 1/b² (from the replaced-row adjoint solve). -------
    "q254_sensitivity_2state" -> ((s, dir) => {
      import breeze.linalg.DenseMatrix
      import graft.markov.{Sensitivity, TransitionCounting}
      // ONE 5-state count scan; both coarse chains (state % 2 and
      // state % 3) are exact margins of it, since the coarse maps are
      // per-frame and -1 frames are excluded identically
      val c5Rows = TransitionCounting.slidingCounts(
        dtrajEv(s, dir), 1).collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2).toDouble)).toMap
      def coarse(k: Int): DenseMatrix[Double] = {
        val c = DenseMatrix.zeros[Double](k, k)
        c5Rows.foreach { case ((i, j), v) => c(i % k, j % k) += v }
        c
      }
      val c = coarse(2)
      val t = graft.markov.TransitionMatrixMle.nonReversible(c)
      val (a, b) = (t(0, 1), t(1, 0))
      val sEig = Sensitivity.eigenvalueSensitivity(t, 1)
      val sMfpt = Sensitivity.mfptSensitivity(t, target = 0, j = 1)
      val lam2 = 1.0 - a - b
      // 2-state π-sensitivity (the bordered least-squares EIGENVECTOR
      // branch, _sensitivity.py:280): closed form [[ab, -b²], [a², -ab]]
      // / (a+b)³, value-replayed by the twin
      val sPi = Sensitivity.stationaryDistributionSensitivity(t, 0)
      val base = Seq(
        "a_up" -> a, "b_down" -> b,
        "dlam2_d00" -> sEig(0, 0), "dlam2_d01" -> sEig(0, 1),
        "dlam2_d10" -> sEig(1, 0), "dlam2_d11" -> sEig(1, 1),
        "dmfpt1_d11" -> sMfpt(1, 1),
        "dpi0_d00" -> sPi(0, 0), "dpi0_d01" -> sPi(0, 1),
        "dpi0_d10" -> sPi(1, 0), "dpi0_d11" -> sPi(1, 1))
      // the timescale chain factor needs λ₂ in (0, 1); on data where the
      // coarse chain mixes faster than stationary (λ₂ <= 0) the reference
      // timescale is undefined, so the row is emitted only when valid —
      // the twin applies the same guard in SQL
      val ts = if (lam2 > 0 && lam2 < 1)
        Seq("dts2_d11" -> Sensitivity.timescaleSensitivity(t, 1)(1, 1))
      else Seq.empty
      // SECOND REGIME (3-state coarse chain): λ₂ from the characteristic
      // quadratic and dλ₂/dT from the adjugate outer product
      // l_i r_j / (l·r) with l = adj(T - λ₂I) row 0, r = column 0 — the
      // eigen machinery value-replayed in closed form at n = 3. Rows are
      // emitted only when λ₂ is real and simple (disc > 0) and the
      // adjugate row/column are usable (|l·r| above tolerance); the twin
      // applies identical guards in SQL.
      val t3 = graft.markov.TransitionMatrixMle.nonReversible(coarse(3))
      val e1 = t3(0, 0) + t3(1, 1) + t3(2, 2)
      val e2 = (t3(0, 0) * t3(1, 1) - t3(0, 1) * t3(1, 0)) +
        (t3(0, 0) * t3(2, 2) - t3(0, 2) * t3(2, 0)) +
        (t3(1, 1) * t3(2, 2) - t3(1, 2) * t3(2, 1))
      val disc = (e1 - 1) * (e1 - 1) - 4 * (e2 - e1 + 1)
      val threeState: Seq[(String, Double)] =
        if (disc > 1e-12) {
          val l2 = ((e1 - 1) + math.sqrt(disc)) / 2
          val mm = t3 - DenseMatrix.eye[Double](3) * l2
          def cof(i: Int, j: Int): Double = {
            val (r1, r2) = ((0 to 2).filter(_ != i), (0 to 2).filter(_ != j))
            val sgn = if ((i + j) % 2 == 0) 1.0 else -1.0
            sgn * (mm(r1(0), r2(0)) * mm(r1(1), r2(1)) -
              mm(r1(0), r2(1)) * mm(r1(1), r2(0)))
          }
          val lr = (0 until 3).map(i => cof(i, 0) * cof(0, i)).sum
          if (math.abs(lr) > 1e-12) {
            val sE3 = Sensitivity.eigenvalueSensitivity(t3, 1)
            ("lam2_3s" -> l2) +: (for (i <- 0 until 3; j <- 0 until 3)
              yield s"dlam2_3s_d$i$j" -> sE3(i, j))
          } else Seq.empty
        } else Seq.empty
      checksDf(s, base ++ ts ++ threeState)
    }),

    // ---- fixed-π spectral fingerprint VALUE replay (q255): q248 gates
    // spectral-vs-direct at zero; here the amplitude arithmetic itself is
    // data-visible. With π fixed to the EMPIRICAL state distribution
    // (reversibleMleFixedPi — detailed balance w.r.t. the given π holds
    // exactly by construction), the spectral amplitude sum Σ_k γ_k equals
    // Σ_i π_i a_i b_i, and E[C]_stationary row sums equal N·π_i = h_i —
    // every output is plain SQL over the state histogram. ----------------
    "q255_fixedpi_spectral" -> ((s, dir) => {
      import breeze.linalg.{DenseMatrix, DenseVector}
      import graft.markov.{MsmAnalysis, TransitionCounting}
      val n = 5
      val hRows = dtrajEv(s, dir).where(col("state") >= 0)
        .groupBy(col("state")).agg(count(lit(1)).as("h")).collect()
        .map(r => (r.getInt(0), r.getLong(1).toDouble)).toMap
      val h = DenseVector.tabulate(n)(i => hRows.getOrElse(i, 0.0))
      val nTot = breeze.linalg.sum(h)
      val piEmp = h / nTot
      val cRows = TransitionCounting.slidingCounts(dtrajEv(s, dir), 1).collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2).toDouble)).toMap
      val c = DenseMatrix.tabulate(n, n)((i, j) => cRows.getOrElse((i, j), 0.0))
      val t = MsmAnalysis.reversibleMleFixedPi(c, piEmp)
      val obsA = DenseVector.tabulate(n)(i => i.toDouble)
      val obsB = DenseVector.tabulate(n)(i => (i * i).toDouble / n)
      // spectral amplitudes through the eigendecomposition path
      val (r, _, l) = MsmAnalysis.rdlReversible(t, Some(piEmp))
      val wA = DenseVector.tabulate(n)(i => piEmp(i) * obsA(i))
      val corr0Spectral = (0 until n)
        .map(k => (wA dot r(::, k)) * (l(k, ::).t dot obsB)).sum
      val corr0Direct = MsmAnalysis.correlation(t, obsA, obsB, Seq(0),
        Some(piEmp)).head
      val ec = MsmAnalysis.expectedCountsStationary(t, nTot.toInt, Some(piEmp))
      val ecRows = (0 until n).map(i =>
        s"ec_stat_row_$i" -> breeze.linalg.sum(ec(i, ::).t))
      checksDf(s, Seq(
        "corr0_spectral" -> corr0Spectral,
        "corr0_direct" -> corr0Direct) ++ ecRows :+
        ("ec_stat_total" -> ec.toArray.sum))
    }),

    // ---- Bayesian MSM with FIXED stationary distribution (q257): the
    // last estimator option in the MSM stack — the reversible
    // transition-matrix Gibbs sampler constrained to a given π
    // (reference sampler_revpi.py `SamplerRevPi` + sampler.h:23
    // `RevPiSampler`, dispatched via _bayesian_msm.py:253 when
    // `stationary_distribution_constraint` is set). π is pinned to the
    // EMPIRICAL state distribution so the π rows are value-replayed by
    // the SQL twin; the sampler holds it exactly by construction (X
    // symmetric with row sums pinned at π), so detailed balance and
    // stationarity w.r.t. the CONSTRAINED π are driver-exact zeros for
    // every posterior sample, not just on average. Stochasticity gate:
    // no two consecutive samples identical; concentration gate: the
    // 20-sample posterior mean stays entrywise near the fixed-π MLE
    // prior (tight recovery accuracy is spec-gated in BayesianSpec). --
    "q257_bayes_fixedpi" -> ((s, dir) => {
      import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
      import graft.markov.{BayesianMsm, TransitionCounting}
      val n = 5
      val hRows = dtrajEv(s, dir).where(col("state") >= 0)
        .groupBy(col("state")).agg(count(lit(1)).as("h")).collect()
        .map(r => (r.getInt(0), r.getLong(1).toDouble)).toMap
      val h = DenseVector.tabulate(n)(i => hRows.getOrElse(i, 0.0))
      val piEmp = h / bsum(h)
      val cRows = TransitionCounting.slidingCounts(dtrajEv(s, dir), 1).collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2).toDouble)).toMap
      val c = DenseMatrix.tabulate(n, n)((i, j) => cRows.getOrElse((i, j), 0.0))
      val post = BayesianMsm.fromCountsLocal(c, tau = 1,
        states = (0 until n).toArray, nSamples = 20, reversible = true,
        seed = 57L, nChains = 4, piConstraint = Some(piEmp.toArray))
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max
      val mats = post.samples.map(_.transitionMatrix)
      val mle = post.prior.transitionMatrix
      val stoch = maxAbs(mats.flatMap(t =>
        (0 until n).map(i => bsum(t(i, ::).t) - 1.0)))
      val nonneg = maxAbs(mats.flatMap(t =>
        for (i <- 0 until n; j <- 0 until n) yield math.min(t(i, j), 0.0)))
      val db = maxAbs(mats.flatMap(t =>
        for (i <- 0 until n; j <- 0 until n)
          yield piEmp(i) * t(i, j) - piEmp(j) * t(j, i)))
      val stat = maxAbs(mats.flatMap(t => (0 until n).map(j =>
        (0 until n).map(i => piEmp(i) * t(i, j)).sum - piEmp(j))))
      val priorDb = maxAbs(for (i <- 0 until n; j <- 0 until n)
        yield piEmp(i) * mle(i, j) - piEmp(j) * mle(j, i))
      val stuck = mats.sliding(2).count { case Seq(a, b) =>
        (0 until n).forall(i => (0 until n).forall(j => a(i, j) == b(i, j))) }
      val meanDev = maxAbs(for (i <- 0 until n; j <- 0 until n)
        yield mats.map(_(i, j)).sum / mats.size - mle(i, j))
      checksDf(s, (0 until n).map(i => s"pi_$i" -> piEmp(i)) ++ Seq(
        "n_samples" -> mats.size.toDouble,
        "trans_stochastic" -> stoch,
        "trans_nonneg" -> nonneg,
        "detailed_balance_pi" -> db,
        "pi_stationary" -> stat,
        "prior_detailed_balance_pi" -> priorDb,
        "consecutive_stuck" -> stuck.toDouble,
        "mean_within_015_of_mle" -> (if (meanDev < 0.15) 0.0 else meanDev)))
    }),

    // ---- forced-distributed FFBS/Gibbs transport (q265, VERDICT r13
    // task 2): below the 2M-observation crossover every Bayesian-HMM
    // battery (q247, q38's cousin shapes) takes the driver-local sweep
    // transport, leaving the 100 TB path — one Spark job per sweep,
    // only O(m² + m·nObs) sufficient statistics reduced — spec-only.
    // This query forces localThreshold = 0 so the DISTRIBUTED reduce
    // executes under the DuckDB gate, and pins the two transports
    // against each other as oracle rows: discrete FFBS statistics are
    // integer counts (bit-identical by the per-(sweep, traj) seeded
    // RNG), Gaussian (Σx, Σx²) partials differ only in float merge
    // order (≤ ~1e-9, BayesianHmmSpec) — both round to exactly 0.0
    // at the battery's 6dp. ----------------------------------------
    // ---- forced-distributed Baum-Welch transport (q268): Hmm.fit
    // gained the BayesianHmm size dispatch in r15, so every ML fit at
    // test SFs runs the driver-local loop — this query forces
    // localThreshold = 0 so the DISTRIBUTED per-iteration E-step reduce
    // (the 100 TB shape hmm100 pins at 15M frames) executes under the
    // DuckDB gate, pinned against the local transport: identical
    // initial guess and kernels, so parameters differ only in the float
    // merge order of the E-statistics (clamped below 1e-7 per the
    // q265/q266/q267 rule, raw residual printed un-gated). -----------
    "q268_hmm_fit_dist_transport" -> ((s, dir) => {
      import graft.markov.hmm.Hmm
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max
      val d = dtrajEv(s, dir).where(col("state") >= 0)
      // tol = 0 (ADVICE r15): the loglik-delta convergence test compares
      // a float-merge-order-sensitive quantity against the threshold, so
      // a positive tol could end the two transports on different
      // iteration counts and leak a tol-sized residual into the parity
      // clamp; at 0 both runs execute exactly maxIter EM iterations
      def run(th: Long) = Hmm.fit(d, nHidden = 2, nObs = 5, maxIter = 5,
        tol = 0.0, localThreshold = th)
      val loc = run(Long.MaxValue)
      val dist = run(0L)
      val parityRaw = maxAbs(
        (loc.transition.toArray ++ loc.emission.toArray ++ loc.initial.toArray)
          .zip(dist.transition.toArray ++ dist.emission.toArray ++
            dist.initial.toArray)
          .map { case (p, q) => p - q })
      println(f"[q268] hmm_fit_transport_parity raw residual = $parityRaw%.3e")
      val parity = if (parityRaw < 1e-7) 0.0 else parityRaw
      val stoch = maxAbs((0 until 2).map(i =>
        breeze.linalg.sum(dist.transition(i, ::).t) - 1.0))
      checksDf(s, Seq(
        "iterated" -> (if (dist.iterations > 0) 0.0 else 1.0),
        "fit_transport_parity" -> parity,
        "dist_trans_stochastic" -> stoch))
    }),

    "q265_bayes_hmm_dist_transport" -> ((s, dir) => {
      import graft.markov.hmm.{BayesianHmm, Hmm}
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max
      // discrete transport: the event dtraj, both thresholds
      val d = dtrajEv(s, dir).where(col("state") >= 0)
      val mlD = Hmm.fit(d, nHidden = 2, nObs = 5, maxIter = 5)
      // ONE cached grouping shared by both transport runs (each would
      // otherwise group the identical input again)
      val gD = TrajectoryScan.states(d, "q265_bayes_hmm_dist_transport").cache()
      def runD(th: Long) = BayesianHmm.sample(d, mlD, nObs = 5, nSamples = 4,
        stride = 1, seed = 29L, localThreshold = th,
        groupedOpt = Some(gD)).samples
      val dDist = runD(0L)
      val dLoc = runD(Long.MaxValue)
      gD.unpersist(blocking = false)
      val dParity = maxAbs(dDist.zip(dLoc).flatMap { case (x, y) =>
        (x.transition.toArray ++ x.emission.toArray ++ x.initial.toArray)
          .zip(y.transition.toArray ++ y.emission.toArray ++ y.initial.toArray)
          .map { case (p, q) => p - q } })
      // Gaussian transport: the q247 value series, both thresholds
      val ev = Trajectories.events(s, dir)
        .select(col("user_id").cast("long").as("traj_id"),
          col("ts").as("t"), col("value"))
      val mlG = graft.markov.hmm.GaussianHmm.fit(ev, 2, "value", maxIter = 5)
      val gG = TrajectoryScan.values(ev, "value", "q265_bayes_hmm_dist_transport").cache()
      def runG(th: Long) = BayesianHmm.sampleGaussian(ev, mlG, nSamples = 4,
        stride = 1, seed = 47L, localThreshold = th,
        groupedOpt = Some(gG)).samples
      val gDist = runG(0L)
      val gLoc = runG(Long.MaxValue)
      gG.unpersist(blocking = false)
      val gParityRaw = maxAbs(gDist.zip(gLoc).flatMap { case (x, y) =>
        (x.transition.toArray ++ x.means ++ x.sigmas ++ x.initial.toArray)
          .zip(y.transition.toArray ++ y.means ++ y.sigmas ++ y.initial.toArray)
          .map { case (p, q) => p - q } })
      // The (Σx, Σx²) partials differ from the local transport only in
      // float merge ORDER (~1e-9 measured, BayesianHmmSpec); clamp that
      // known-benign band so the oracle row pins the transport contract
      // rather than a scheduling-dependent residual staying under the
      // 6dp rounding threshold (ADVICE r14). A real divergence (≥ 1e-7)
      // passes through raw and fails the gate; the raw residual stays
      // visible un-gated on stdout.
      println(f"[q265] gauss_transport_parity raw residual = $gParityRaw%.3e")
      val gParity = if (gParityRaw < 1e-7) 0.0 else gParityRaw
      val stoch = maxAbs(dDist.flatMap(m => (0 until 2).map(i =>
        breeze.linalg.sum(m.transition(i, ::).t) - 1.0)) ++
        gDist.flatMap(m => (0 until 2).map(i =>
          breeze.linalg.sum(m.transition(i, ::).t) - 1.0)))
      checksDf(s, Seq(
        "n_samples" -> (dDist.size + gDist.size).toDouble,
        "discrete_transport_parity" -> dParity,
        "gauss_transport_parity" -> gParity,
        "dist_trans_stochastic" -> stoch))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(

    "q73_estimator_invariants" ->
      """SELECT * FROM (VALUES
           ('hmm_transition_stochastic', 0.0), ('hmm_emission_stochastic', 0.0),
           ('hmm_ck_lag1_pred_eq_est', 0.0), ('hmm_ck_pred2_is_square', 0.0),
           ('hmm_ck_rows_stochastic', 0.0),
           ('bayes_samples_stochastic', 0.0), ('bayes_samples_detailed_balance', 0.0),
           ('oom_rows_normalized', 0.0),
           ('amm_transition_stochastic', 0.0), ('amm_pi_normalized', 0.0)
         ) AS t("check", violation)""",

    "q71_model_invariants" ->
      """SELECT * FROM (VALUES
           ('rev_rowsums', 0.0), ('rev_detailed_balance', 0.0),
           ('pi_stationarity', 0.0), ('pi_normalized', 0.0),
           ('committor_bvp', 0.0), ('mfpt_linear_system', 0.0),
           ('pcca_membership_rowsums', 0.0), ('pcca_membership_nonneg', 0.0),
           ('vamp_whitening_identity', 0.0), ('pseudo_generator_valid', 0.0),
           ('kl_generator_valid', 0.0), ('kl_detailed_balance', 0.0)
         ) AS t("check", violation)""",

    // Sensitivity identity battery: every residual is a driver-exact
    // algebraic zero; the state count is the observed distinct states
    // (the chain is fully connected on this data, same assumption as
    // q56's row-normalized twin).
    "q85_sensitivities" ->
      s"""SELECT 'eig_trace_minus_one' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'eig_rank1_minors', 0.0
         UNION ALL SELECT 'timescale_chain', 0.0
         UNION ALL SELECT 'pi_sens_sum', 0.0
         UNION ALL SELECT 'eigvec_norm_preserved', 0.0
         UNION ALL SELECT 'mfpt_adjoint_vs_forward', 0.0
         UNION ALL SELECT 'committor_adjoint_vs_forward', 0.0
         UNION ALL SELECT 'n_states', (SELECT CAST(count(DISTINCT ${Trajectories.eventTypeStateSql}) AS DOUBLE)
           FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0)""",

    // TRAM model-evaluation twin: the weight/observable/PMF identities
    // are exact by the normalization; likelihood finiteness is a flag.
    "q252_tram_weights" ->
      """SELECT * FROM (VALUES
           ('weights_sum_one', 0.0), ('weights_sum_one_biased', 0.0),
           ('observable_of_one', 0.0), ('pmf_occupied_finite', 0.0),
           ('pmf_is_distribution', 0.0), ('loglik_finite', 0.0)
         ) AS t("check", "value")""",

    // TRAM overlap twin: the identical pairwise acceptance statistic via
    // an independent SQL self-join (list indexing for the bias vector).
    "q245_tram_overlap" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          b AS (SELECT user_id, t, state, CAST(t % 3 AS INT) AS therm
            FROM d WHERE state >= 0),
          c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY state, therm
              ORDER BY user_id, t) AS rn FROM b),
          sm AS (SELECT state AS markov_state, therm,
              [0.3 * CAST((t * 7) % 5 AS DOUBLE),
               0.3 * CAST((t * 7 + 13) % 5 AS DOUBLE),
               0.3 * CAST((t * 7 + 26) % 5 AS DOUBLE)] AS bias
            FROM c WHERE rn <= 40),
          pr AS (SELECT a.markov_state, a.therm AS k, f.therm AS l,
              least(exp(a.bias[a.therm + 1] + f.bias[f.therm + 1]
                - a.bias[f.therm + 1] - f.bias[a.therm + 1]), 1.0) AS term
            FROM sm a JOIN sm f ON a.markov_state = f.markov_state
              AND a.therm <> f.therm),
          g AS (SELECT markov_state, k, l, CAST(count(*) AS BIGINT) AS n_pairs,
              sum(term) AS s FROM pr GROUP BY 1, 2, 3),
          cells AS (SELECT markov_state, therm, count(*) AS c
            FROM sm GROUP BY 1, 2)
          SELECT g.markov_state, g.k, g.l, g.n_pairs,
            round(g.s, 6) AS n_sum, round(g.s / g.n_pairs, 6) AS n_avg,
            CAST(CASE WHEN CAST(nk.c + ml.c AS DOUBLE)
                * round(g.s / g.n_pairs, 6) >= 1.0
              THEN 1 ELSE 0 END AS BIGINT) AS overlap
          FROM g
          JOIN cells nk ON g.markov_state = nk.markov_state AND g.k = nk.therm
          JOIN cells ml ON g.markov_state = ml.markov_state AND g.l = ml.therm""",

    // TRAM restriction twin: the construction makes the largest summed
    // SCC exactly ensemble 0's {0..4} block (5 states vs 4), so the
    // post-restriction bookkeeping is closed-form — ensemble 0 keeps
    // every sample (histogram = per-state counts, transitions = adjacent
    // pairs of the glued even-user sequence), ensemble 1 zeroes out.
    "q246_tram_restrict" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          f AS (SELECT user_id, t, CAST(state AS INT) AS st
            FROM d WHERE state >= 0 AND user_id % 2 = 0),
          p AS (SELECT st AS s0, LEAD(st) OVER (ORDER BY user_id, t) AS s1
            FROM f),
          h AS (SELECT st, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1),
          tr AS (SELECT s0 AS st, CAST(count(*) AS BIGINT) AS n FROM p
            WHERE s1 IS NOT NULL GROUP BY 1),
          grid AS (SELECT k.therm, s.state
            FROM (VALUES (0), (1)) k(therm)
            CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8)) s(state))
          SELECT grid.therm, grid.state,
            CAST(CASE WHEN grid.therm = 0 THEN coalesce(h.n, 0) ELSE 0 END
              AS BIGINT) AS n_samples,
            CAST(CASE WHEN grid.therm = 0 THEN coalesce(tr.n, 0) ELSE 0 END
              AS BIGINT) AS n_trans_out
          FROM grid
          LEFT JOIN h ON grid.state = h.st
          LEFT JOIN tr ON grid.state = tr.st""",

    // Forced-distributed Baum-Welch twin: parity (sub-clamp) and
    // validity rows are exact zeros.
    "q268_hmm_fit_dist_transport" ->
      """SELECT * FROM (VALUES
           ('iterated', 0.0), ('fit_transport_parity', 0.0),
           ('dist_trans_stochastic', 0.0)) AS t("check", "value")""",

    // Forced-distributed transport twin: both parity rows and the
    // stochasticity residual are exact (or sub-6dp) zeros; the sample
    // count is the two configured draw counts summed.
    "q265_bayes_hmm_dist_transport" ->
      """SELECT * FROM (VALUES
           ('n_samples', 8.0), ('discrete_transport_parity', 0.0),
           ('gauss_transport_parity', 0.0), ('dist_trans_stochastic', 0.0)
         ) AS t("check", "value")""",

    // Bayesian Gaussian HMM twin: validity invariants are driver-exact
    // zeros; the sample count is the configured draw count.
    "q247_bayes_gauss_hmm" ->
      """SELECT * FROM (VALUES
           ('n_samples', 10.0), ('trans_stochastic', 0.0),
           ('pi_normalized', 0.0), ('sigmas_positive', 0.0),
           ('mu_within_span', 0.0)
         ) AS t("check", "value")""",

    // Fingerprint / expected-counts twin: every identity residual is a
    // driver-exact zero; the state count anchors the data support.
    "q248_msm_fingerprints" ->
      s"""SELECT 'corr_direct_vs_spectral' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'relax_direct_vs_spectral', 0.0
         UNION ALL SELECT 'relax_limit_vs_expectation', 0.0
         UNION ALL SELECT 'expected_counts_total', 0.0
         UNION ALL SELECT 'expected_counts_stationary_rows', 0.0
         UNION ALL SELECT 'expected_counts_pi_is_stationary', 0.0
         UNION ALL SELECT 'n_states', (SELECT CAST(count(DISTINCT ${Trajectories.eventTypeStateSql}) AS DOUBLE)
           FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0)""",

    // GMM-init twin: shape anchor plus driver-exact-zero contract
    // residuals (the init must produce a usable HMM whatever the data).
    "q253_gauss_hmm_gmm_init" ->
      """SELECT * FROM (VALUES
           ('n_states', 2.0), ('trans_stochastic', 0.0),
           ('trans_nonnegative', 0.0), ('pi_normalized', 0.0),
           ('sigmas_positive', 0.0), ('means_strictly_separated', 0.0),
           ('means_within_span', 0.0), ('gmm_weights_simplex', 0.0),
           ('gmm_loglik_finite', 0.0)
         ) AS t("check", "value")""",

    // Sensitivity value twin: the machinery's outputs recomputed from
    // the 2-state closed forms on the SAME row-normalized counts —
    // dλ₂/dT = outer((1,-1), (a,-b))/(a+b), dmfpt = 1/b², the
    // timescale chain factor 1/(λ₂ ln²λ₂) guarded exactly as the driver.
    "q254_sensitivity_2state" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          c2 AS (SELECT user_id, t,
            CASE WHEN state >= 0 THEN state % 2 ELSE -1 END AS state FROM d),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM c2),
          cnt AS (SELECT s0, s1, CAST(count(*) AS DOUBLE) AS n FROM p
            WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY 1, 2),
          ab AS (SELECT
            (SELECT coalesce(sum(n), 0) FROM cnt WHERE s0 = 0 AND s1 = 1) /
              (SELECT sum(n) FROM cnt WHERE s0 = 0) AS a,
            (SELECT coalesce(sum(n), 0) FROM cnt WHERE s0 = 1 AND s1 = 0) /
              (SELECT sum(n) FROM cnt WHERE s0 = 1) AS b),
          c3 AS (SELECT user_id, t,
            CASE WHEN state >= 0 THEN state % 3 ELSE -1 END AS state FROM d),
          p3 AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM c3),
          cnt3 AS (SELECT s0, s1, CAST(count(*) AS DOUBLE) AS n FROM p3
            WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY 1, 2),
          rs3 AS (SELECT s0, sum(n) AS tot FROM cnt3 GROUP BY 1),
          t3 AS (SELECT
            coalesce(sum(CASE WHEN s0 = 0 AND s1 = 0 THEN n / tot END), 0) AS t00,
            coalesce(sum(CASE WHEN s0 = 0 AND s1 = 1 THEN n / tot END), 0) AS t01,
            coalesce(sum(CASE WHEN s0 = 0 AND s1 = 2 THEN n / tot END), 0) AS t02,
            coalesce(sum(CASE WHEN s0 = 1 AND s1 = 0 THEN n / tot END), 0) AS t10,
            coalesce(sum(CASE WHEN s0 = 1 AND s1 = 1 THEN n / tot END), 0) AS t11,
            coalesce(sum(CASE WHEN s0 = 1 AND s1 = 2 THEN n / tot END), 0) AS t12,
            coalesce(sum(CASE WHEN s0 = 2 AND s1 = 0 THEN n / tot END), 0) AS t20,
            coalesce(sum(CASE WHEN s0 = 2 AND s1 = 1 THEN n / tot END), 0) AS t21,
            coalesce(sum(CASE WHEN s0 = 2 AND s1 = 2 THEN n / tot END), 0) AS t22
            FROM cnt3 JOIN rs3 USING (s0)),
          q3 AS (SELECT t3.*,
            t00 + t11 + t22 AS e1,
            (t00*t11 - t01*t10) + (t00*t22 - t02*t20) + (t11*t22 - t12*t21) AS e2
            FROM t3),
          lam AS (SELECT q3.*,
            ((e1 - 1) + sqrt((e1-1)*(e1-1) - 4*(e2 - e1 + 1))) / 2 AS l2
            FROM q3 WHERE (e1-1)*(e1-1) - 4*(e2 - e1 + 1) > 1e-12),
          m3 AS (SELECT l2, t00 - l2 AS m00, t01 AS m01, t02 AS m02,
            t10 AS m10, t11 - l2 AS m11, t12 AS m12,
            t20 AS m20, t21 AS m21, t22 - l2 AS m22 FROM lam),
          cf AS (SELECT l2,
             (m11*m22 - m12*m21) AS c00,
            -(m10*m22 - m12*m20) AS c01,
             (m10*m21 - m11*m20) AS c02,
            -(m01*m22 - m02*m21) AS c10,
             (m00*m22 - m02*m20) AS c11,
            -(m00*m21 - m01*m20) AS c12,
             (m01*m12 - m02*m11) AS c20,
            -(m00*m12 - m02*m10) AS c21,
             (m00*m11 - m01*m10) AS c22 FROM m3),
          sens AS (SELECT cf.*, c00*c00 + c10*c01 + c20*c02 AS lr FROM cf
            WHERE abs(c00*c00 + c10*c01 + c20*c02) > 1e-12)
          SELECT 'a_up' AS "check", round(a, 6) AS "value" FROM ab
          UNION ALL SELECT 'b_down', round(b, 6) FROM ab
          UNION ALL SELECT 'dlam2_d00', round(a / (a + b), 6) FROM ab
          UNION ALL SELECT 'dlam2_d01', round(-b / (a + b), 6) FROM ab
          UNION ALL SELECT 'dlam2_d10', round(-a / (a + b), 6) FROM ab
          UNION ALL SELECT 'dlam2_d11', round(b / (a + b), 6) FROM ab
          UNION ALL SELECT 'dmfpt1_d11', round(1.0 / (b * b), 6) FROM ab
          UNION ALL SELECT 'dpi0_d00', round(a * b / pow(a + b, 3), 6) FROM ab
          UNION ALL SELECT 'dpi0_d01', round(-b * b / pow(a + b, 3), 6) FROM ab
          UNION ALL SELECT 'dpi0_d10', round(a * a / pow(a + b, 3), 6) FROM ab
          UNION ALL SELECT 'dpi0_d11', round(-a * b / pow(a + b, 3), 6) FROM ab
          UNION ALL SELECT 'dts2_d11',
            round(b / (a + b) / ((1 - a - b) * ln(1 - a - b) * ln(1 - a - b)), 6)
            FROM ab WHERE 1 - a - b > 0 AND 1 - a - b < 1
          UNION ALL SELECT 'lam2_3s', round(l2, 6) FROM sens
          UNION ALL SELECT 'dlam2_3s_d00', round(c00*c00 / lr, 6) FROM sens
          UNION ALL SELECT 'dlam2_3s_d01', round(c00*c01 / lr, 6) FROM sens
          UNION ALL SELECT 'dlam2_3s_d02', round(c00*c02 / lr, 6) FROM sens
          UNION ALL SELECT 'dlam2_3s_d10', round(c10*c00 / lr, 6) FROM sens
          UNION ALL SELECT 'dlam2_3s_d11', round(c10*c01 / lr, 6) FROM sens
          UNION ALL SELECT 'dlam2_3s_d12', round(c10*c02 / lr, 6) FROM sens
          UNION ALL SELECT 'dlam2_3s_d20', round(c20*c00 / lr, 6) FROM sens
          UNION ALL SELECT 'dlam2_3s_d21', round(c20*c01 / lr, 6) FROM sens
          UNION ALL SELECT 'dlam2_3s_d22', round(c20*c02 / lr, 6) FROM sens""",

    // Fixed-π spectral twin: with π pinned to the empirical histogram,
    // the spectral amplitude sum and stationary expected-count margins
    // are plain arithmetic over the state histogram.
    "q255_fixedpi_spectral" ->
      s"""WITH d AS (SELECT ${Trajectories.eventTypeStateSql} AS state
            FROM events),
          h AS (SELECT state, CAST(count(*) AS DOUBLE) AS h FROM d
            WHERE state >= 0 GROUP BY 1),
          tot AS (SELECT sum(h) AS n FROM h)
          SELECT 'corr0_spectral' AS "check",
            (SELECT round(sum((h.h / tot.n) * h.state * h.state * h.state / 5.0), 6)
             FROM h, tot) AS "value"
          UNION ALL SELECT 'corr0_direct',
            (SELECT round(sum((h.h / tot.n) * h.state * h.state * h.state / 5.0), 6)
             FROM h, tot)
          UNION ALL SELECT 'ec_stat_row_0',
            (SELECT coalesce(sum(h), 0) FROM h WHERE state = 0)
          UNION ALL SELECT 'ec_stat_row_1',
            (SELECT coalesce(sum(h), 0) FROM h WHERE state = 1)
          UNION ALL SELECT 'ec_stat_row_2',
            (SELECT coalesce(sum(h), 0) FROM h WHERE state = 2)
          UNION ALL SELECT 'ec_stat_row_3',
            (SELECT coalesce(sum(h), 0) FROM h WHERE state = 3)
          UNION ALL SELECT 'ec_stat_row_4',
            (SELECT coalesce(sum(h), 0) FROM h WHERE state = 4)
          UNION ALL SELECT 'ec_stat_total', (SELECT n FROM tot)""",

    // Fixed-π Bayesian twin: the constrained π rows replay the empirical
    // state histogram in SQL; every sampler invariant (stochastic rows,
    // detailed balance and stationarity w.r.t. the CONSTRAINED π, prior
    // balance, no stuck consecutive samples, posterior-mean proximity to
    // the fixed-π MLE) is a driver-exact zero by construction.
    "q257_bayes_fixedpi" ->
      s"""WITH d AS (SELECT ${Trajectories.eventTypeStateSql} AS state
            FROM events),
          h AS (SELECT state, CAST(count(*) AS DOUBLE) AS h FROM d
            WHERE state >= 0 GROUP BY 1),
          tot AS (SELECT sum(h) AS n FROM h)
          SELECT 'pi_0' AS "check",
            (SELECT round(coalesce(sum(h), 0) / (SELECT n FROM tot), 6)
             FROM h WHERE state = 0) AS "value"
          UNION ALL SELECT 'pi_1',
            (SELECT round(coalesce(sum(h), 0) / (SELECT n FROM tot), 6)
             FROM h WHERE state = 1)
          UNION ALL SELECT 'pi_2',
            (SELECT round(coalesce(sum(h), 0) / (SELECT n FROM tot), 6)
             FROM h WHERE state = 2)
          UNION ALL SELECT 'pi_3',
            (SELECT round(coalesce(sum(h), 0) / (SELECT n FROM tot), 6)
             FROM h WHERE state = 3)
          UNION ALL SELECT 'pi_4',
            (SELECT round(coalesce(sum(h), 0) / (SELECT n FROM tot), 6)
             FROM h WHERE state = 4)
          UNION ALL SELECT 'n_samples', 20.0
          UNION ALL SELECT 'trans_stochastic', 0.0
          UNION ALL SELECT 'trans_nonneg', 0.0
          UNION ALL SELECT 'detailed_balance_pi', 0.0
          UNION ALL SELECT 'pi_stationary', 0.0
          UNION ALL SELECT 'prior_detailed_balance_pi', 0.0
          UNION ALL SELECT 'consecutive_stuck', 0.0
          UNION ALL SELECT 'mean_within_015_of_mle', 0.0""",
  )
}
