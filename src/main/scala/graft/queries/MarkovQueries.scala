package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Trajectories
import graft.lag.Lag
import graft.agg.Covariance
import graft.linalg.LinAlg
import graft.markov.TransitionCounting
import graft.text.{Bpe, Packing, Pii, Scoring, TextFunctions}
import graft.dedup.Dedup
import graft.operators.Joins
import graft.similarity.Similarity
import graft.queries.QShared._

/** MarkovQueries: transition counting, MSM estimation and analysis, HMM, Bayesian/OOM/TRAM/AMM, TPT, sensitivities, sparse MSM, estimation-api tail.
  *
  * One slice of the driver-contract registry (VERDICT r06 item 8 split
  * of the 5,000-line SparkEntry monolith). Entry bodies are UNCHANGED;
  * graft.SparkEntry merges every family into the single `queries` /
  * `oracleSql` maps the driver consumes, and ContractSpec keeps the
  * key sets equal. */
private[graft] object MarkovQueries extends QueryFamily {

  /** q142's simulator statistics: row count, transitions outside the
    * tridiagonal support (|s_{t+1} - s_t| > 1 within a trajectory) and
    * the occupancy of each state in [0, nStates). */
  private[graft] case class SimulationCounts(nRows: Long, offSupport: Long,
                                             occupancy: Array[Long])

  /** [[SimulationCounts]] of a (traj_id, t, state) frame in ONE
    * aggregation over the frame with its windowed next state. */
  private[graft] def simulationCounts(sim: DataFrame, nStates: Int): SimulationCounts = {
    val s1 = lead(col("state"), 1).over(Window.partitionBy("traj_id").orderBy("t"))
    def countIf(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val aggs = countIf(col("s1").isNotNull && abs(col("s1") - col("state")) > 1) +:
      (0 until nStates).map(i => countIf(col("state") === i))
    val r = sim.withColumn("s1", s1).agg(count(lit(1)), aggs: _*).collect()(0)
    SimulationCounts(r.getLong(0), r.getLong(1), Array.tabulate(nStates)(i => r.getLong(2 + i)))
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- markov counting (SURVEY §2.4) ---------------------------------
    "q05_count_matrix_sliding" -> ((s, dir) =>
      TransitionCounting.slidingCounts(dtrajEv(s, dir), 1)),

    "q06_count_matrix_sample" -> ((s, dir) =>
      TransitionCounting.sampleCounts(dtrajEv(s, dir), 3)),

    "q07_state_histogram" -> ((s, dir) =>
      TransitionCounting.stateHistogram(dtrajEv(s, dir))),

    "q08_visited_set" -> ((s, dir) =>
      TransitionCounting.visitedSet(dtrajEv(s, dir))),

    "q09_msm_rownorm" -> ((s, dir) => {
      val counts = TransitionCounting.slidingCounts(dtrajEv(s, dir), 1)
      counts.withColumn("t_prob",
        round(col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy("s0")), 6))
        .select("s0", "s1", "t_prob")
    }),

    "q10_sliding_effective" -> ((s, dir) =>
      TransitionCounting.slidingEffectiveCounts(
        dtrajEv(s, dir), 2)),

    "q26_sample_indices" -> ((s, dir) => {
      dtrajEv(s, dir)
        .groupBy("state")
        .agg(count(lit(1)).as("n_visits"), min("t").as("first_t"),
          max("t").as("last_t"), countDistinct("traj_id").as("n_trajs"))
    }),

    // ---- count-matrix estimation api tail (q138): priors, likelihood,
    // posterior covariance, error propagation (reference estimation/
    // api.py:623-1100). The count matrix is the distributed artifact
    // (one shuffle); the api is model-sized driver math, SQL-replayable
    // like q56/q85. Grid rows (i, j) carry: the count, the three prior
    // matrices, row-0's Dirichlet posterior covariance (ppm scale keeps
    // 6-dec rounding significant), the per-count MLE log-likelihood, and
    // the error perturbation of a fixed index-sensitivity S_ij =
    // (i+1)(j+1)/25. -----------------------------------------------------
    "q138_count_priors" -> ((s, dir) => {
      import graft.markov.CountEstimation
      val n = 5
      val dense = breeze.linalg.DenseMatrix.zeros[Double](n, n)
      TransitionCounting.slidingCounts(dtrajEv(s, dir), 1)
        .select(col("s0"), col("s1"), col("cnt")).collect()
        .foreach(r => dense(r.getInt(0), r.getInt(1)) = r.getLong(2).toDouble)
      val rowSums = breeze.linalg.sum(dense(breeze.linalg.*, ::))
      val t = breeze.linalg.DenseMatrix.tabulate(n, n)((i, j) =>
        if (rowSums(i) > 0) dense(i, j) / rowSums(i) else 0.0)
      val total = breeze.linalg.sum(dense)
      val llpc = CountEstimation.logLikelihood(dense, t) / total
      val bN = CountEstimation.priorNeighbor(dense)
      val bC = CountEstimation.priorConst(dense)
      val bR = CountEstimation.priorRev(dense)
      val cov0 = CountEstimation.tmatrixCovRow(dense, 0)
      val sMat = breeze.linalg.DenseMatrix.tabulate(n, n)((i, j) =>
        (i + 1.0) * (j + 1.0) / 25.0)
      val ep = CountEstimation.errorPerturbation(dense, sMat)
      import s.implicits._
      (for (i <- 0 until n; j <- 0 until n) yield
        (i, j, dense(i, j).toLong, bN(i, j) + 0.0, bC(i, j) + 0.0,
          bR(i, j) + 0.0, r6(cov0(i, j) * 1e6) + 0.0, r6(llpc) + 0.0,
          r6(ep * 1e6) + 0.0))
        .toDF("i", "j", "cnt", "b_neighbor", "b_const", "b_rev",
          "cov0_ppm", "ll_per_count", "err_ppm")
    }),

    // ---- sparse large-n MSM path --------------------------------------
    // Fine discretization (2000 value bins) -> COO counts -> sparse MSM
    // with NO dense n^2 allocation anywhere (markov/SparseMsm.scala;
    // reference _transition_counting.py:471 sparse_return +
    // estimation/api.py:768-956 sparse dispatch + numeric/_eigen.py:289
    // iterative eigs). Exact SQL rows anchor the data-sized facts
    // (visited states, count-matrix nnz, transition total); residual rows
    // gate the model contract: Tarjan SCC == independent forward/backward
    // BFS intersection, pi stationarity/normalization via sparse matvec,
    // row-stochasticity, detailed balance of the reversible MLE, and the
    // deflated-Lanczos lambda_2 cross-checked against Arnoldi (two
    // independent iterative eigensolvers must agree).
    "q91_sparse_msm" -> ((s, dir) => {
      def maxAbsD(xs: Iterable[Double]): Double =
        if (xs.isEmpty) 0.0 else xs.map(math.abs).max
      val nBins = 2000
      val dtraj = Trajectories.dtrajFromEventValues(s, dir, nBins)
      val coo = graft.markov.SparseMsm.collectCoo(
        TransitionCounting.slidingCounts(dtraj, 1), nBins)
      require(!graft.markov.SparseMsm.denseIsEfficient(coo.n, coo.nnz),
        "q91 must exercise the sparse branch")
      val model = graft.markov.SparseMsm.fromCoo(coo, tau = 1, reversible = true)
      val lcc = model.states
      val bfs = graft.markov.SparseMsm.sccOfViaBfs(coo, lcc(0))
      val lanczos = model.eigenvaluesK(3)
      val arnoldi = graft.markov.SparseMsm.eigenvaluesArnoldi(model.transition, 3)
      val nTrans = coo.vals.sum
      // matrix-free CG solves: gate the boundary-value problems the same
      // way q39/q71 gate the dense ones — interior rows of the committor
      // satisfy sum_j T_ij q_j = q_i (replayed via a second sparse
      // matvec), boundaries are exact; mfpt rows satisfy m - T_rest m = tau
      val setA = Set(0); val setB = Set(model.n - 1)
      val qPlus = model.committorForward(setA, setB)
      val mf = model.mfpt(setB)
      val t = model.transition
      val tq = graft.markov.SparseMsm.rightMatvec(t, qPlus)
      val tm = graft.markov.SparseMsm.rightMatvec(t, mf, setB.contains)
      val committorResid = math.max(
        math.max(math.abs(qPlus(0) - 0.0), math.abs(qPlus(model.n - 1) - 1.0)),
        maxAbsD((1 until model.n - 1).map(i => tq(i) - qPlus(i))))
      val mfptResid = maxAbsD((0 until model.n).collect {
        case i if !setB.contains(i) => (mf(i) - tm(i) - 1.0) / math.max(1.0, mf(i))
      })
      // matrix-free fingerprint/correlation family (reference sparse path,
      // impl/sparse/fingerprints_test.py): exact identities gate the
      // propagated products — unit autocorrelation of the constant
      // observable, reversibility symmetry of the cross-correlation, flat
      // relaxation from the stationary start, and the stationary
      // fingerprint amplitude via the analytic first eigenpair (r=1, l=pi)
      import breeze.linalg.DenseVector
      val third = model.n / 3
      val obsA = DenseVector.tabulate(model.n)(i => if (i < third) 1.0 else 0.0)
      val obsB = DenseVector.tabulate(model.n)(i =>
        if (i >= model.n - third) 1.0 else 0.0)
      val piV = model.stationaryDistribution
      val ftimes = Seq(0, 1, 5, 10)
      val onesV = DenseVector.ones[Double](model.n)
      val cOne = graft.markov.SparseMsm.correlationMatvec(t, piV, onesV, onesV, ftimes)
      val cAB = graft.markov.SparseMsm.correlationMatvec(t, piV, obsA, obsB, ftimes)
      val cBA = graft.markov.SparseMsm.correlationMatvec(t, piV, obsB, obsA, ftimes)
      val rFlat = graft.markov.SparseMsm.relaxationMatvec(t, piV, obsA, ftimes)
      val eA = piV dot obsA
      val amp0 = graft.markov.SparseMsm.fingerprintAmplitudes(
        Seq(onesV), Seq(piV),
        DenseVector.tabulate(model.n)(i => piV(i) * obsA(i)), obsB)(0)
      checksDf(s, Seq(
        "n_states_visited" -> coo.rows.concat(coo.cols).distinct.length.toDouble,
        "nnz" -> coo.nnz.toDouble,
        "n_transitions" -> nTrans,
        "scc_bfs_parity" -> (if (bfs.sameElements(lcc)) 0.0 else 1.0),
        "rowsums" -> model.rowSumResidual,
        "pi_normalized" -> math.abs(breeze.linalg.sum(model.stationaryDistribution) - 1.0),
        "pi_stationarity" -> model.stationarityResidual,
        "detailed_balance" -> model.detailedBalanceResidual,
        "lambda1_minus_one" -> (lanczos(0) - 1.0),
        "lanczos_arnoldi_lambda2" -> (lanczos(1) - arnoldi(1)),
        "committor_bvp" -> committorResid,
        "mfpt_linear_system" -> mfptResid,
        "corr_const_one" -> maxAbsD(cOne.map(_ - 1.0)),
        "corr_reversible_symmetry" ->
          maxAbsD(cAB.zip(cBA).map { case (a, b) => a - b }),
        "relax_from_pi_flat" -> maxAbsD(rFlat.map(_ - eA)),
        "fingerprint_amp0" -> (amp0 - eA * (piV dot obsB))))
    }),

    // Reversible MLE hash-gated per entry: support = symmetrized observed
    // pairs (exact SQL), detailed balance pi_i T_ij = pi_j T_ji (the
    // defining property of the reversible estimator, exact at convergence)
    // and row-stochasticity, both driver-exact zeros on every row.
    "q31_msm_reversible" -> ((s, dir) => {
      // ONE collect of the COO count frame feeds BOTH the model build and
      // the observed-pair support (the previous shape ran the window +
      // count scan twice — 2x the whole query's data cost)
      val cooRows = TransitionCounting
        .slidingCounts(dtrajEv(s, dir), 1)
        .select(col("s0"), col("s1"), col("cnt")).collect()
      val dense = breeze.linalg.DenseMatrix.zeros[Double](5, 5)
      cooRows.foreach(r => dense(r.getInt(0), r.getInt(1)) = r.getLong(2).toDouble)
      val msm = graft.markov.Msm.fromDense(dense, tau = 1, reversible = true)
      import s.implicits._
      val t = msm.transitionMatrix
      val pi = msm.stationaryDistribution
      val sym2idx = msm.states.zipWithIndex.toMap
      // support = SYMMETRIZED OBSERVED pairs (the oracle's row set on any
      // data); pairs outside the model's connected set carry 0.0 residuals
      val observedPairs = cooRows
        .flatMap(r => Seq((r.getInt(0), r.getInt(1)), (r.getInt(1), r.getInt(0))))
        .distinct.sorted
      observedPairs.map { case (a, b) =>
        (sym2idx.get(a), sym2idx.get(b)) match {
          case (Some(i), Some(j)) =>
            val rowSum = (0 until msm.n).map(t(i, _)).sum
            (a, b, r6(pi(i) * t(i, j) - pi(j) * t(j, i)) + 0.0,
              r6(rowSum - 1.0) + 0.0)
          case _ => (a, b, 0.0, 0.0)
        }
      }.toSeq.toDF("s0", "s1", "db_resid", "row_resid")
    }),

    // ---- validation workflows (SURVEY §2 validation; util/validation.py) --
    "q33_multilag_counts" -> ((s, dir) =>
      graft.markov.Validation.multiLagCounts(
        dtrajEv(s, dir), Seq(1, 2, 4))),

    // Implied-timescale grid hash-gated by the eigenproblem itself: for
    // each (lag, process), the eigenpair satisfies T v = lambda v (complex
    // pairs in real arithmetic) and the reported timescale equals
    // -lag/ln|lambda| recomputed from an INDEPENDENT eig call — both
    // residuals are exact zeros over the SQL-pinned (lag, process) grid.
    "q34_its" -> ((s, dir) => {
      import breeze.linalg.{DenseMatrix, DenseVector}
      val dtraj = dtrajEv(s, dir)
      val lags = Seq(1, 2, 3, 5)
      val k = 3
      val models = graft.markov.Validation.msmPerLag(dtraj, lags, 5, reversible = true)
      val its = graft.markov.Validation.timescales(models, lags, k)
      import s.implicits._
      (for (l <- lags.indices; p <- 0 until k) yield {
        val msm = models(lags(l))
        val t = msm.transitionMatrix
        val e = breeze.linalg.eig(t)
        val order = (0 until msm.n)
          .sortBy(i => -math.hypot(e.eigenvalues(i), e.eigenvaluesComplex(i)))
        val c = order(p + 1) // skip the stationary eigenvalue
        val re = e.eigenvalues(c); val im = e.eigenvaluesComplex(c)
        val mag = math.hypot(re, im)
        // eigen residual ||T v - lambda v||_inf in real arithmetic
        val eigResid = if (im == 0.0) {
          val v = DenseVector.tabulate(msm.n)(i => e.eigenvectors(i, c))
          breeze.linalg.max(breeze.numerics.abs(t * v - v * re))
        } else {
          val cf = if (im > 0) c else c - 1 // +im member precedes in LAPACK pairs
          val vr = DenseVector.tabulate(msm.n)(i => e.eigenvectors(i, cf))
          val vi = DenseVector.tabulate(msm.n)(i => e.eigenvectors(i, cf + 1))
          val reF = e.eigenvalues(cf); val imF = e.eigenvaluesComplex(cf)
          val rr = t * vr - (vr * reF - vi * imF)
          val ri = t * vi - (vi * reF + vr * imF)
          math.max(breeze.linalg.max(breeze.numerics.abs(rr)),
            breeze.linalg.max(breeze.numerics.abs(ri)))
        }
        val tsRecomputed = -lags(l) / math.log(mag)
        (lags(l), p, r6(eigResid) + 0.0,
          r6(tsRecomputed - its.its(l)(p)) + 0.0)
      }).toDF("lag", "process", "eig_resid", "its_consistency")
    }),

    "q35_cond_frame" -> ((s, dir) =>
      graft.markov.EffectiveCounts.conditionalFrame(
        dtrajEv(s, dir), 1)
        .select(col("s0"), col("traj_id"), col("t"), col("y"), col("u"))),

    // Oracle: the inefficiency formula is closed-form in pair-count sums
    // (EffectiveCounts.scala acf identity), so DuckDB recomputes the whole
    // chain — conditional frame, per-lag co-occurrence counts, truncated
    // corrsum, row-averaged scaling — in SQL.
    "q36_effective_counts" -> ((s, dir) => {
      val ceff = graft.markov.EffectiveCounts.effectiveCountMatrix(
        dtrajEv(s, dir), 1, 5, maxLag = 25)
      import s.implicits._
      // half-away rounding, matching DuckDB round(x, 4)
      (for (i <- 0 until 5; j <- 0 until 5 if ceff(i, j) > 0) yield
        (i, j, r4(ceff(i, j))))
        .toDF("s0", "s1", "cnt_eff")
    }),

    // Crisp-set CK test with empirical weights: estimates = coarse-grained
    // row-normalized count matrices at lag l, predictions = coarse-grained
    // l-th powers of the lag-1 matrix — every value is a ratio of pair
    // counts, so the DuckDB oracle recomputes the WHOLE grid (powers via
    // self-joins) and the Chapman-Kolmogorov surface is value-checked, not
    // rows-only. The PCCA-membership ckTest stays the API default
    // (ValidationSpec covers it against the reference semantics).
    "q37_cktest" -> ((s, dir) => {
      val ck = graft.markov.Validation.ckTestSets(
        dtrajEv(s, dir), tau = 1, steps = 3,
        nStates = 5, sets = Seq(Set(0, 1), Set(2, 3, 4)))
      import s.implicits._
      (for (l <- ck.lagtimes.indices; i <- 0 until ck.nSets; j <- 0 until ck.nSets) yield
        (ck.lagtimes(l), i, j,
          r6(ck.predictions(l)(i, j)), r6(ck.estimates(l)(i, j))))
        .toDF("lag", "set_i", "set_j", "predicted", "estimated")
    }),

    // Bayesian posterior invariants per process: CI endpoints ordered,
    // timescales/std positive and finite (sample validity itself — every
    // Gibbs sample stochastic + reversible — is hash-gated in q73).
    "q38_bayesian_timescales" -> ((s, dir) => {
      val post = graft.markov.BayesianMsm.fit(
        dtrajEv(s, dir), tau = 1, nStates = 5,
        nSamples = 40, seed = 42L, nChains = 8, maxLag = 25)
      import s.implicits._
      // QuantityStatistics.gather facade (util/stats.py:197-290) over the
      // 2-process timescale vector: per element the gathered mean must
      // equal the direct sample mean, the mean-anchored CI must bracket
      // the mean and stay inside the sample range, population std is
      // nonnegative, and conf=1 gather returns exact min/max
      val tsOf = (m: graft.markov.MarkovStateModel) => {
        val t = m.timescales(2).toArray
        Array.tabulate(2)(i => if (i < t.length) t(i) else Double.NaN)
      }
      val gs = post.gatherStats(tsOf, "timescales")
      val g1 = post.gatherStats(tsOf, "timescales", conf = 1.0)
      val tsSamples = post.samples.map(tsOf)
      post.timescaleStats(2).map { case (p, m, sd, lo, hi) =>
        val finite = Seq(m, sd, lo, hi).forall(v => !v.isNaN && !v.isInfinite)
        val vals = tsSamples.map(_(p))
        val gatherViol = Seq(
          math.abs(gs.mean(p) - vals.sum / vals.size),
          math.max(0.0, gs.lower(p) - gs.mean(p)),
          math.max(0.0, gs.mean(p) - gs.upper(p)),
          math.max(0.0, vals.min - gs.lower(p)),
          math.max(0.0, gs.upper(p) - vals.max),
          math.abs(g1.lower(p) - vals.min),
          math.abs(g1.upper(p) - vals.max),
          -math.min(gs.std(p), 0.0)).max
        (p, r6(math.max(0.0, lo - hi)) + 0.0,
          r6(math.max(0.0, -math.min(math.min(m, sd), lo))) + 0.0,
          if (finite) 0.0 else 1.0,
          r6(gatherViol) + 0.0)
      }.toDF("process", "ci_order_viol", "negativity_viol", "nonfinite",
        "gather_viol")
    }),

    // ---- TPT / PCCA / committors over the events MSM -------------------
    // Committors hash-gated by their boundary-value problems on a
    // per-state grid the SQL twin pins: q+(A)=0, q+(B)=1, interior rows
    // satisfy sum_j T_ij q+(j) = q+(i); q- satisfies the adjoint system on
    // the time-reversed chain. All residuals driver-exact zeros.
    "q39_committors" -> ((s, dir) => {
      val (dense, obs) = countsAndObserved(s, dir)
      val msm = graft.markov.Msm.fromDense(dense, tau = 1, reversible = false)
      import s.implicits._
      val a = Set(0); val b = Set(4)
      val qf = msm.committorForward(a, b)
      val qb = msm.committorBackward(a, b)
      val t = msm.transitionMatrix
      val pi = msm.stationaryDistribution
      // time-reversed matrix for the backward BVP residual
      val tRev = breeze.linalg.DenseMatrix.tabulate(msm.n, msm.n)((i, j) =>
        if (pi(i) > 0) pi(j) * t(j, i) / pi(i) else 0.0)
      // a/b are MODEL indices (committorForward's contract); rows span the
      // OBSERVED states (oracle support) with 0.0 for non-model states
      val sym2idx = msm.states.zipWithIndex.toMap
      obs.map { sym =>
        sym2idx.get(sym) match {
          case Some(i) =>
            val fwdResid =
              if (a.contains(i)) qf(i) - 0.0
              else if (b.contains(i)) qf(i) - 1.0
              else (0 until msm.n).map(j => t(i, j) * qf(j)).sum - qf(i)
            val bwdResid =
              if (a.contains(i)) qb(i) - 1.0
              else if (b.contains(i)) qb(i) - 0.0
              else (0 until msm.n).map(j => tRev(i, j) * qb(j)).sum - qb(i)
            (sym, r6(fwdResid) + 0.0, r6(bwdResid) + 0.0)
          case None => (sym, 0.0, 0.0)
        }
      }.toDF("state", "fwd_bvp_resid", "bwd_bvp_resid")
    }),

    // Reactive-flux conservation per state: gross flux into an
    // intermediate state equals gross flux out (exact TPT identity given
    // the committor solves); endpoint rows check total-flux consistency
    // (A-outflow == B-inflow == rate * sum_i pi_i q-_i).
    "q40_tpt_flux" -> ((s, dir) => {
      val (dense, obs) = countsAndObserved(s, dir)
      val msm = graft.markov.Msm.fromDense(dense, tau = 1, reversible = true)
      val flux = graft.markov.Tpt.reactiveFlux(msm, Set(0), Set(4))
      val f = flux.grossFlux
      val n = msm.n
      import s.implicits._
      // A/B are MODEL-index sets (reactiveFlux's contract); rows span the
      // OBSERVED states (oracle support) with 0.0 for non-model states
      def outOf(states: Set[Int]): Double =
        (for (i <- 0 until n if states.contains(i);
              j <- 0 until n if !states.contains(j)) yield f(i, j)).sum
      def into(states: Set[Int]): Double =
        (for (j <- 0 until n if states.contains(j);
              i <- 0 until n if !states.contains(i)) yield f(i, j)).sum
      val sym2idx = msm.states.zipWithIndex.toMap
      obs.map { sym =>
        sym2idx.get(sym) match {
          case Some(i) =>
            val resid =
              if (i == 0) outOf(Set(0)) - flux.totalFlux          // A-outflow
              else if (i == 4) into(Set(4)) - flux.totalFlux      // B-inflow
              else (0 until n).map(j => f(j, i)).sum - (0 until n).map(j => f(i, j)).sum
            (sym, r6(resid) + 0.0)
          case None => (sym, 0.0)
        }
      }.toDF("state", "conservation_resid")
    }),

    // PCCA membership invariants per (state, set): rows sum to 1 and
    // memberships are non-negative, over the SQL-pinned grid.
    "q41_pcca_memberships" -> ((s, dir) => {
      val (dense, obs) = countsAndObserved(s, dir)
      val msm = graft.markov.Msm.fromDense(dense, tau = 1, reversible = true)
      val pcca = graft.markov.Pcca(msm, 2)
      import s.implicits._
      val sym2idx = msm.states.zipWithIndex.toMap
      // metastable_distributions (Bayesian inversion, _pcca.py:54): each
      // set's distribution over states sums to 1, and the inversion
      // identity dists(k,i) * Z_k = chi(i,k) * pi(i) is driver-exact
      val pi = msm.stationaryDistribution
      val zk = Array.tabulate(2)(k =>
        (0 until msm.n).map(i => pcca.memberships(i, k) * pi(i)).sum)
      (for (sym <- obs; k <- 0 until 2) yield
        sym2idx.get(sym) match {
          case Some(i) =>
            (sym, k, r6(pcca.memberships(i, 0) + pcca.memberships(i, 1) - 1.0) + 0.0,
              r6(math.max(0.0, -pcca.memberships(i, k))) + 0.0,
              r6(pcca.metastableDistributions(k, i) * zk(k) -
                pcca.memberships(i, k) * pi(i)) + 0.0)
          case None => (sym, k, 0.0, 0.0, 0.0)
        }).toDF("state", "metastable_set", "rowsum_resid", "nonneg_viol",
          "bayes_inversion_resid")
    }),

    // ---- HMM ------------------------------------------------------------
    // Viterbi path contract: path length = #observed frames (exact SQL),
    // hidden labels in range; emission/transition stochasticity of the EM
    // fit is hash-gated in q73.
    "q46_hmm_viterbi" -> ((s, dir) => {
      val dtraj = dtrajEv(s, dir).where(col("state") >= 0)
      val model = graft.markov.hmm.Hmm.fit(dtraj, nHidden = 2, nObs = 5, maxIter = 15)
      val path = graft.markov.hmm.Hmm.viterbi(dtraj, model, nObs = 5)
      val row = path.agg(
        count(lit(1)).as("len"),
        sum(when(col("hidden") < 0 || col("hidden") >= 2, 1L).otherwise(0L)).as("oob"))
        .collect()(0)
      checksDf(s, Seq(
        "path_len" -> row.getLong(0).toDouble,
        "hidden_out_of_range" -> row.getLong(1).toDouble))
    }),

    // ---- sample-by-state (oracle on the COUNT contract; the draw itself
    // is hash-order dependent) -------------------------------------------
    "q54_sample_by_state" -> ((s, dir) => {
      graft.markov.MsmAnalysis.sampleByState(
        dtrajEv(s, dir), nSamples = 10, seed = 7L)
        .groupBy("state").agg(count(lit(1)).as("n_sampled"))
    }),

    // ---- analysis long tail --------------------------------------------
    // Correlation-fingerprint identities: summed amplitudes equal the
    // instantaneous correlation E_pi[obs^2] (t=0 spectral completeness),
    // the stationary amplitude equals (pi . obs)^2, and autocorrelation
    // amplitudes are non-negative — exact spectral-decomposition facts.
    "q55_fingerprints" -> ((s, dir) => {
      val counts = TransitionCounting.slidingCounts(dtrajEv(s, dir), 1)
      val msm = graft.markov.Msm.fromCounts(counts, 5, tau = 1, reversible = true)
      val obs = breeze.linalg.DenseVector.tabulate(msm.n)(i => i.toDouble)
      val (ts, amps) = graft.markov.MsmAnalysis.fingerprintCorrelation(
        msm.transitionMatrix, obs, obs)
      val pi = msm.stationaryDistribution
      val corr0 = (0 until msm.n).map(i => pi(i) * obs(i) * obs(i)).sum
      val statAmp = math.pow((0 until msm.n).map(i => pi(i) * obs(i)).sum, 2)
      val statIdx = ts.indexWhere(_.isPosInfinity)
      checksDf(s, Seq(
        "amp_sum_minus_corr0" -> (amps.sum - corr0),
        "stationary_amp_resid" ->
          (if (statIdx >= 0) amps(statIdx) - statAmp else 1.0),
        "autocorr_amp_negativity" -> amps.map(a => math.max(0.0, -a)).max,
        "n_components" -> ts.length.toDouble))
    }),

    // Expected stationary counts E[C_ij] = N pi_i T_ij. The row-sum ratio
    // E[C_ij] / sum_j E[C_ij] cancels N pi_i and equals T_ij EXACTLY, so
    // the DuckDB twin is the row-normalized count matrix; the stationarity
    // residual ||pi T - pi||_inf (driver-exact zero) rides along on every
    // row — together they hash-gate both factors of the product.
    "q56_expected_counts" -> ((s, dir) => {
      val (dense, _) = countsAndObserved(s, dir)
      val msm = graft.markov.Msm.fromDense(dense, tau = 1, reversible = false)
      val t = msm.transitionMatrix
      val pi = msm.stationaryDistribution
      val ec = graft.markov.MsmAnalysis.expectedCountsStationary(t, 1000)
      val piResid = (0 until msm.n).map(j =>
        math.abs((0 until msm.n).map(i => pi(i) * t(i, j)).sum - pi(j))).max
      import s.implicits._
      // row support = OBSERVED pairs (count > 0), exactly the oracle's
      // observed-pair support — an ec-magnitude cutoff (the r04 shape,
      // ec > 1e-9) could drop a counted pair whose stationary weight is
      // tiny and silently break row-set parity on less-balanced data
      (for (i <- 0 until msm.n; j <- 0 until msm.n
            if dense(msm.states(i), msm.states(j)) > 0) yield {
        val rowSum = (0 until msm.n).map(jj => ec(i, jj)).sum
        (msm.states(i), msm.states(j), r6(ec(i, j) / rowSum), r6(piResid) + 0.0)
      }).toDF("s0", "s1", "tprob", "pi_resid")
    }),

    // Hitting-probability BVP per state: h = 1 on the target, and on the
    // rest h_i = sum_j T_ij h_j (this chain is irreducible, so no
    // absorbing-zero branch applies); residuals driver-exact zeros over
    // the SQL-pinned state grid.
    "q57_hitting_probability" -> ((s, dir) => {
      val (dense, obs) = countsAndObserved(s, dir)
      val msm = graft.markov.Msm.fromDense(dense, tau = 1, reversible = false)
      val t = msm.transitionMatrix
      val h = graft.markov.MsmAnalysis.hittingProbability(t, Set(2))
      import s.implicits._
      val sym2idx = msm.states.zipWithIndex.toMap
      obs.map { sym =>
        sym2idx.get(sym) match {
          case Some(i) =>
            val resid =
              if (i == 2) h(i) - 1.0
              else (0 until msm.n).map(j => t(i, j) * h(j)).sum - h(i)
            (sym, r6(resid) + 0.0)
          case None => (sym, 0.0)
        }
      }.toDF("state", "bvp_resid")
    }),

    // ---- OOM / two-step statistics ------------------------------------
    "q58_twostep_counts" -> ((s, dir) =>
      graft.markov.Oom.twoStepCounts(dtrajEv(s, dir), 1)),

    // OOM-corrected MSM invariants per entry over the SQL-pinned state
    // grid: the equilibrium-corrected matrix is exactly row-stochastic
    // (explicit renormalization) and non-negative (clipped correction).
    "q59_oom_msm" -> ((s, dir) => {
      val model = graft.markov.Oom.fit(dtrajEv(s, dir),
        tau = 1, nStates = 5, rankTol = 2.0, nbs = 50)
      import s.implicits._
      val t = model.transitionMatrix
      val sym2idx = model.states.zipWithIndex.toMap
      val obs = observedStates(s, dir)
      (for (a <- obs; b <- obs) yield
        (sym2idx.get(a), sym2idx.get(b)) match {
          case (Some(i), Some(j)) =>
            val rowSum = model.states.indices.map(t(i, _)).sum
            (a, b, r6(rowSum - 1.0) + 0.0, r6(math.max(0.0, -t(i, j))) + 0.0)
          case _ => (a, b, 0.0, 0.0)
        }).toDF("s0", "s1", "row_resid", "nonneg_viol")
    }),

    // ---- TRAM multi-ensemble free energies (rows-only) -----------------
    "q60_tram" -> ((s, dir) => {
      // guard: unknown event types map to state -1, which would make the
      // 1-based element_at throw
      val d = dtrajEv(s, dir).where(col("state") >= 0)
      val biasVec = Seq(2.0, 1.5, 1.0, 0.5, 0.0)
      val d0 = d.withColumn("bias", array(lit(0.0), element_at(typedLit(biasVec), col("state") + 1)))
      // second "ensemble": strided half of the data standing in for a
      // biased simulation (structure check, not physics)
      val d1 = Lag.strided(d, 2)
        .withColumn("bias", array(lit(0.0), element_at(typedLit(biasVec), col("state") + 1)))
      val model = graft.markov.Tram.fit(Seq(d0, d1), tau = 1, nMarkov = 5,
        maxIter = 100, maxErr = 1e-8)
      import s.implicits._
      // Per-state invariants: pi = exp(-f)/Z is a normalized distribution
      // (exact by construction), free energies finite, pi positive —
      // over the SQL-pinned state grid. Free-energy recovery vs an
      // analytic two-ensemble fixture is spec-gated (TramSpec).
      val pi = model.stationaryDistribution
      val piSum = (0 until 5).map(pi(_)).sum
      // rows span the observed states (the oracle's support on any data)
      observedStates(s, dir).map { i =>
        val f = model.markovStateEnergies(i)
        (i, r6(piSum - 1.0) + 0.0,
          if (f.isNaN || f.isInfinite) 1.0 else 0.0,
          r6(math.max(0.0, -pi(i))) + 0.0)
      }.toDF("state", "pi_norm_resid", "f_nonfinite", "pi_negativity")
    }),

    // ---- distributed TRAM E-step parity (q263): the SAME fixture as
    // q60 fit through BOTH sample backends — the capped driver-collected
    // table (which at driver SFs holds every sample) and the
    // treeAggregate path that iterates the full bias table with
    // model-sized partials (the 100 TB shape; reference tram.h:671 sums
    // every sample). maxErr = 0 pins both to exactly maxIter sweeps, so
    // the residual is pure float re-association (~1e-12) and rounds to
    // exact zeros; a divergence in either backend breaks the gate. ------
    "q263_tram_distributed" -> ((s, dir) => {
      val d = dtrajEv(s, dir).where(col("state") >= 0)
      val biasVec = Seq(2.0, 1.5, 1.0, 0.5, 0.0)
      val d0 = d.withColumn("bias", array(lit(0.0), element_at(typedLit(biasVec), col("state") + 1)))
      val d1 = Lag.strided(d, 2)
        .withColumn("bias", array(lit(0.0), element_at(typedLit(biasVec), col("state") + 1)))
      val frames = Seq(d0, d1)
      val input = graft.markov.Tram.inputFromFrames(frames, tau = 1, nMarkov = 5,
        maxSamples = Int.MaxValue)
      val local = graft.markov.Tram.fit(input, maxIter = 30, maxErr = 0.0)
      // counts are shared: both backends consume the SAME count assembly
      // (it is the sample sums being parity-tested, not the counting),
      // saving the duplicate 2-jobs-per-frame count pass
      val dist = graft.markov.Tram.fitDistributed(frames, tau = 1, nMarkov = 5,
        maxIter = 30, maxErr = 0.0,
        precomputedCounts = Some((input.transitionCounts, input.stateCounts)))
      import s.implicits._
      val pi = dist.stationaryDistribution
      val piSum = (0 until 5).map(pi(_)).sum
      observedStates(s, dir).map { i =>
        val fResid = math.abs(dist.markovStateEnergies(i) - local.markovStateEnergies(i))
        val fkResid = (0 until 2).map(k =>
          math.abs(dist.biasedConfEnergies(k, i) - local.biasedConfEnergies(k, i))).max
        (i, r6(fResid) + 0.0, r6(fkResid) + 0.0, r6(piSum - 1.0) + 0.0)
      }.toDF("state", "f_resid", "fk_resid", "pi_norm_resid")
    }),

    // ---- AMM -----------------------------------------------------------
    // Per-state invariants: the biased MSM is built from a symmetric
    // stationary-weight matrix, so pi is EXACTLY the stationary vector of
    // T (pi_j = sum_i pi_i T_ij identically) and normalized; residuals are
    // driver-exact zeros over the SQL-pinned state grid.
    "q61_amm" -> ((s, dir) => {
      val (counts, obs) = countsAndObserved(s, dir)
      val e = breeze.linalg.DenseMatrix.tabulate(5, 1)((i, _) => i.toDouble)
      val model = graft.markov.Amm.fit(counts, e,
        breeze.linalg.DenseVector(2.3), breeze.linalg.DenseVector(2.0))
      import s.implicits._
      val t = model.transitionMatrix
      val pi = model.stationaryDistribution
      val piSum = (0 until 5).map(pi(_)).sum
      // rows span the observed states (the oracle's support on any data)
      obs.map { j =>
        val statResid = (0 until 5).map(i => pi(i) * t(i, j)).sum - pi(j)
        (j, r6(statResid) + 0.0, r6(piSum - 1.0) + 0.0)
      }.toDF("state", "pi_stationarity_resid", "pi_norm_resid")
    }),

    // ---- TPT pathway decomposition --------------------------------------
    // Widest-path decomposition invariants: every path runs A -> B through
    // valid edges, fluxes are positive and non-increasing in rank, and the
    // full decomposition (fraction=1.0) captures the total flux to within
    // the stop tolerance — all driver-exact checks.
    "q65_tpt_pathways" -> ((s, dir) => {
      val counts = TransitionCounting.slidingCounts(dtrajEv(s, dir), 1)
      val msm = graft.markov.Msm.fromCounts(counts, 5, tau = 1, reversible = true)
      val flux = graft.markov.Tpt.reactiveFlux(msm, Set(0), Set(4))
      val paths = flux.pathways(1.0)
      val endpointViol = paths.count { case (p, _) =>
        p.isEmpty || p.head != 0 || p.last != 4 }.toDouble
      val fluxNonPos = paths.count { case (_, f) => f <= 0.0 }.toDouble
      val orderViol = paths.map(_._2).sliding(2)
        .count { case Seq(a, b) => b > a + 1e-15; case _ => false }.toDouble
      val captured = paths.map(_._2).sum
      checksDf(s, Seq(
        "path_endpoints_viol" -> endpointViol,
        "flux_nonpositive" -> fluxNonPos,
        "flux_rank_order_viol" -> orderViol,
        "uncaptured_total_flux" ->
          math.max(0.0, flux.totalFlux - captured - 1e-9),
        "n_paths_positive" -> (if (paths.nonEmpty) 0.0 else 1.0)))
    }),

    // ---- Girsanov-reweighted counting (oracle: window sum is plain SQL) -
    "q67_girsanov_counts" -> ((s, dir) => {
      val d = Trajectories.eventSeries(s, dir)
        .join(dtrajEv(s, dir), Seq("traj_id", "t"))
        .withColumn("g", lit(1.0))
        .withColumn("logM", col("value") / 1e5)
      TransitionCounting.girsanovReweightedCounts(d, 2)
        .select(col("s0"), col("s1"), round(col("cnt_reweighted"), 6).as("cnt_rw"))
    }),

    // ---- rate-matrix estimation (SURVEY 2.6; ratematrix.py family) -----
    // Query surface = pseudo-generator of the nonreversible MLE (exact SQL
    // twin); the KL / Crommelin-Vanden-Eijnden quasi-Newton estimators are
    // spec-verified against the reference fixture (RateMatrixSpec).
    "q69_rate_matrix" -> ((s, dir) => {
      // fully distributed pseudo-generator over OBSERVED transitions (the
      // q09 pattern): row-normalize the count frame, subtract identity,
      // divide by tau — same row set as the oracle on ANY data, including
      // disconnected states / unobserved pairs (the earlier driver-matrix
      // emit produced the full n x n grid over the largest connected set,
      // which only coincided with the oracle because this dataset happens
      // to observe all 25 pairs). The driver-side generator estimators
      // (pseudo/truncated_log/CVE/KL) are exercised by RateMatrixSpec and
      // the q71 invariants.
      val counts = TransitionCounting.slidingCounts(dtrajEv(s, dir), 2)
      counts.withColumn("t_prob",
          col("cnt").cast("double") / sum(col("cnt")).over(Window.partitionBy("s0")))
        .select(col("s0"), col("s1"),
          round((col("t_prob") -
            when(col("s0") === col("s1"), 1.0).otherwise(0.0)) / 2.0, 6).as("rate"))
    }),

    // ---- MSM submodel / state-set restriction (q140): restricting the
    // nonreversible MLE to states {0, 2, 4} and renormalizing rows
    // equals row-normalizing the RESTRICTED count matrix — an exact SQL
    // identity, so the submodel remap + renormalization path
    // (_markov_state_model.py:278) is value-gated entry by entry. ------
    "q140_msm_submodel" -> ((s, dir) => {
      val (dense, _) = countsAndObserved(s, dir)
      val sub = graft.markov.Msm.fromDense(dense, tau = 1, reversible = false)
        .submodel(Seq(0, 2, 4))
      import s.implicits._
      val labs = sub.states
      (for (a <- labs.indices; b <- labs.indices) yield
        (labs(a), labs(b), r6(sub.transitionMatrix(a, b)) + 0.0))
        .toDF("s0", "s1", "p")
    }),

    // ---- MSM trajectory simulation (q142): the seeded distributed
    // simulator (one task per trajectory) over the analytic 5-state
    // birth-death chain. Gates: exact row/start anchors, transition
    // support INSIDE the chain's nonzeros (exact zero), every state
    // visited, and empirical state occupancies within a generous
    // CLT band of the closed-form stationary distribution — the q47
    // simulator-gate pattern. -------------------------------------------
    "q142_markov_simulate" -> ((s, dir) => {
      val chain = graft.data.MarkovSim.defaultBirthDeath
      val t = chain.transitionMatrix
      val nTraj = 64; val len = 500
      val sim = graft.data.MarkovSim.simulate(s, t, nTraj, len, seed = 42L)
      val SimulationCounts(n, offSupport, occ) = simulationCounts(sim, chain.n)
      val pi = chain.stationaryDistribution
      val tol = 4.0 * math.sqrt(0.25 / (n.toDouble / 10.0)) // AC-inflated CLT
      val occResid = (0 until chain.n).map { i =>
        math.max(0.0, math.abs(occ(i).toDouble / n - pi(i)) - tol)
      }.max
      // double_well_discrete: the analytically-built Metropolis walk on
      // V(x) = (x^2-1)^2 — detailed balance wrt pi ~ exp(-beta V) is
      // EXACT by construction, rows are stochastic, support tridiagonal
      val dw = graft.data.MarkovSim.doubleWellDiscrete(nStates = 50, beta = 3.0)
      val xs = Array.tabulate(50)(i => -2.0 + 4.0 * i / 49.0)
      val piW = xs.map(x => math.exp(-3.0 * (x * x - 1.0) * (x * x - 1.0)))
      val piZ = piW.sum
      val dwDb = (for (i <- 0 until 50; j <- 0 until 50) yield
        math.abs(piW(i) / piZ * dw(i, j) - piW(j) / piZ * dw(j, i))).max
      val dwRows = (0 until 50).map(i =>
        math.abs(breeze.linalg.sum(dw(i, ::).t) - 1.0)).max
      val dwSupport = (for (i <- 0 until 50; j <- 0 until 50
        if math.abs(i - j) > 1) yield math.abs(dw(i, j))).max
      checksDf(s, Seq(
        "n_rows" -> n.toDouble,
        "n_states_visited" -> occ.count(_ > 0).toDouble,
        "off_support_transitions" -> offSupport.toDouble,
        "occupancy_out_of_bounds" -> occResid,
        "double_well_detailed_balance" -> dwDb,
        "double_well_row_stochastic" -> dwRows,
        "double_well_tridiagonal" -> dwSupport))
    }),

    // ---- drunkard's-walk example generator (q144): absorbing 2-d grid
    // walk (reference data/drunkards_walk). Exact gates: row anchor,
    // absorbing states never exit, every step is an 8-neighbor move that
    // avoids barriers — the full support contract of the generator. ----
    "q144_drunkard_walk" -> ((s, dir) => {
      val gw = graft.data.ExampleData.DrunkardsWalk(
        gridWidth = 6, gridHeight = 6, barState = 35, homeState = 0,
        barriers = Set(14, 15, 21))
      val nTraj = 48; val len = 200
      val sim = gw.simulate(s, startX = 2, startY = 3, nTraj = nTraj,
        length = len, seed = 42L).localCheckpoint()
      val n = sim.count()
      val pairs = sim
        .withColumn("s1", lead(col("state"), 1)
          .over(Window.partitionBy("traj_id").orderBy("t")))
        .where(col("s1").isNotNull)
      val exitAbsorbing = pairs
        .where((col("state") === 0 || col("state") === 35) &&
          col("s1") =!= col("state")).count()
      val dx = abs(col("s1") % 6 - col("state") % 6)
      val dy = abs(expr("s1 div 6") - expr("state div 6"))
      val illegalMove = pairs.where(col("state") =!= 0 && col("state") =!= 35 &&
        (dx > 1 || dy > 1 || (dx === 0 && dy === 0) ||
          col("s1").isin(14, 15, 21))).count()
      checksDf(s, Seq(
        "n_rows" -> n.toDouble,
        "absorbing_exits" -> exitAbsorbing.toDouble,
        "illegal_moves" -> illegalMove.toDouble))
    }),

    // ---- Bayesian HMM posterior (q145): Gibbs sampling seeded from the
    // q46 maximum-likelihood fit; the QuantityStatistics gather facade is
    // gated — sample count, row-stochastic samples (exact), CI ordering
    // lo <= mean <= hi, nonnegative spread. --------------------------------
    "q145_bayesian_hmm" -> ((s, dir) => {
      val dtraj = dtrajEv(s, dir).where(col("state") >= 0)
      val ml = graft.markov.hmm.Hmm.fit(dtraj, nHidden = 2, nObs = 5, maxIter = 10)
      val post = graft.markov.hmm.BayesianHmm.sample(dtraj, ml, nObs = 5,
        nSamples = 20, stride = 1, seed = 42L)
      val rowStoch = post.samples.map { m =>
        val a = m.transition
        (0 until a.rows).map(i =>
          math.abs(breeze.linalg.sum(a(i, ::).t) - 1.0)).max
      }.max
      val (mean, std, lo, hi) = post.gather(m => m.transition(0, 0))
      val ciOrder = if (lo <= mean && mean <= hi && std >= 0.0) 0.0 else 1.0
      val stats = post.gatherStats(m => Array(m.transition(0, 0), m.transition(1, 1)))
      val statsOk = if (stats.mean.length == 2 &&
        stats.lower.zip(stats.upper).forall { case (l, u) => l <= u }) 0.0 else 1.0
      checksDf(s, Seq(
        "n_samples" -> post.samples.size.toDouble,
        "samples_row_stochastic" -> rowStoch,
        "ci_ordering" -> ciOrder,
        "gather_stats_contract" -> statsOk))
    }),

    // ---- eigenvalue sorting + spectral trace identity (q149): sortEigs
    // ordering contract plus sum(eigenvalues) = trace(T) — and the trace
    // of the nonreversible MLE is plain SQL (sum of diagonal counts over
    // row sums), so the spectrum ties back to the data. ------------------
    "q149_eig_sort_trace" -> ((s, dir) => {
      val (dense, _) = countsAndObserved(s, dir)
      val m0 = graft.markov.Msm.fromDense(dense, tau = 1, reversible = false)
      val t = m0.transitionMatrix
      val e = breeze.linalg.eig(t)
      val (sorted, _) = LinAlg.sortEigs(e.eigenvalues, e.eigenvectors)
      val trace = (0 until t.rows).map(i => t(i, i)).sum
      val sortedOk = if (LinAlg.isSorted(sorted.toArray.toSeq, descending = true)) 0.0 else 1.0
      checksDf(s, Seq(
        "eig_sorted_desc" -> sortedOk,
        "lambda1_minus_one" -> (sorted(0) - 1.0),
        "eig_sum_minus_trace" -> (breeze.linalg.sum(sorted) - trace),
        "trace" -> trace))
    }),

    // ---- HMM init heuristic (q151): the MSM+PCCA initial guess
    // (reference hmm/init/discrete) — coarse transition/emission/initial
    // are proper stochastic objects of the requested shape, gated as
    // exact residuals. ----------------------------------------------------
    "q151_hmm_init" -> ((s, dir) => {
      import graft.markov.hmm.Hmm
      val d = dtrajEv(s, dir).where(col("state") >= 0)
      // ONE count scan serves all three init cases: the parity-shifted
      // frame (odd trajectories moved to states 5-9) never pairs across
      // blocks, so its 10x10 count matrix holds the base 5x5 counts as
      // the sum of its two diagonal blocks — deriving them here avoids
      // two further full passes over the dtraj (the battery tripled the
      // query's scan cost when the disconnected/separate cases landed)
      val dis = d.withColumn("state",
        (col("state") + lit(5) * (col("traj_id") % 2)).cast("int"))
      val cDis = graft.markov.TransitionCounting.toDense(
        graft.markov.TransitionCounting.slidingCounts(dis, 1), 10)
      val cBase = breeze.linalg.DenseMatrix.tabulate[Double](5, 5)((i, j) =>
        cDis(i, j) + cDis(i + 5, j + 5))
      val m = Hmm.initialGuessFromCounts(cBase, nHidden = 2, nObs = 5,
        lagtime = 1)
      def rowResid(a: breeze.linalg.DenseMatrix[Double]): Double =
        (0 until a.rows).map(i =>
          math.abs(breeze.linalg.sum(a(i, ::).t) - 1.0)).max
      def negResid(a: breeze.linalg.DenseMatrix[Double]): Double =
        a.toArray.map(v => math.max(0.0, -v)).max
      def validity(mm: Hmm.HmmModel): Double = math.max(
        math.max(rowResid(mm.transition), rowResid(mm.emission)),
        math.max(math.abs(breeze.linalg.sum(mm.initial) - 1.0),
          math.max(negResid(mm.transition), math.max(negResid(mm.emission),
            mm.initial.toArray.map(v => math.max(0.0, -v)).max))))
      // DISCONNECTED case (reference estimate_P repair path): two blocks
      // the data never bridges; mode='all' keeps both, PCCA must split
      // them cleanly
      val mDis = Hmm.initialGuessFromCounts(cDis,
        nHidden = 2, nObs = 10, lagtime = 1, mode = "all")
      val purity = (0 until 2).map { k =>
        val lo = (0 until 5).map(mDis.emission(k, _)).sum
        math.max(lo, 1.0 - lo)
      }.min
      // SEPARATE case (_init_discrete_impl.py:85-104): symbol 4 forced
      // into the last hidden state — that row emits ONLY symbol 4 and the
      // metastable rows never emit it (both exact by construction)
      val mSep = Hmm.initialGuessFromCounts(cBase, nHidden = 3, nObs = 5,
        lagtime = 1, separate = Some(Seq(4)))
      checksDf(s, Seq(
        "transition_shape" -> (m.transition.rows * 10 + m.transition.cols).toDouble,
        "emission_shape" -> (m.emission.rows * 10 + m.emission.cols).toDouble,
        "transition_row_stochastic" -> rowResid(m.transition),
        "emission_row_stochastic" -> rowResid(m.emission),
        "initial_normalized" -> math.abs(breeze.linalg.sum(m.initial) - 1.0),
        "all_nonnegative" -> math.max(negResid(m.transition),
          math.max(negResid(m.emission),
            m.initial.toArray.map(v => math.max(0.0, -v)).max)),
        "disc_valid_model" -> validity(mDis),
        "disc_block_purity" -> (if (purity > 0.9) 0.0 else purity),
        "sep_valid_model" -> validity(mSep),
        "sep_row_emits_only_4" -> (1.0 - mSep.emission(2, 4)),
        "sep_leak_to_metastable_rows" ->
          math.max(mSep.emission(0, 4), mSep.emission(1, 4))))
    }),

    // ---- Markov next-event prediction eval (q229): the MSM core turned
    // into a supervised eval — per-user event sequences split 70/30 by
    // TIME (pair t->t+1 trains iff (t+1)*10 < n*7, pure integer rule),
    // transition counts fit on the train pairs, argmax next-state
    // prediction (count desc, state asc) scored on the held-out tail.
    // The time-ordered split is the leakage-safe protocol (a random
    // split would train on the future); per-s0 accuracy comes back as
    // the model-sized report. --------------------------------------------
    "q229_markov_predict" -> ((s, dir) => {
      val d = dtrajEv(s, dir)
      val w = Window.partitionBy("traj_id").orderBy("t")
      val n = d.groupBy("traj_id").agg(count(lit(1)).as("n"))
      val pairs = d.withColumn("s1", lead(col("state"), 1).over(w))
        .where(col("s1").isNotNull && col("state") >= 0 && col("s1") >= 0)
        .join(broadcast(n), "traj_id")
        .withColumn("is_train", (col("t") + 1) * 10 < col("n") * 7)
        .select(col("state").as("s0"), col("s1"), col("is_train"))
      val trained = pairs.where(col("is_train"))
        .groupBy(col("s0"), col("s1")).agg(count(lit(1)).as("c"))
      val wArg = Window.partitionBy("s0").orderBy(col("c").desc, col("s1"))
      val pred = trained.withColumn("rk", row_number().over(wArg))
        .where(col("rk") === 1).select(col("s0"), col("s1").as("pred"))
      pairs.where(!col("is_train"))
        .join(broadcast(pred), Seq("s0"), "left")
        .groupBy(col("s0"), col("pred"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("s1") === col("pred"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_test"), 6))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(

    "q05_count_matrix_sliding" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d)
          SELECT s0, s1, count(*) AS cnt FROM p
          WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY s0, s1""",

    "q06_count_matrix_sample" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT t, state AS s0,
            LEAD(state, 3) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d)
          SELECT s0, s1, count(*) AS cnt FROM p
          WHERE s1 IS NOT NULL AND t % 3 = 0 AND s0 >= 0 AND s1 >= 0
          GROUP BY s0, s1""",

    "q07_state_histogram" ->
      s"""SELECT ${Trajectories.eventTypeStateSql} AS state, count(*) AS cnt
          FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0 GROUP BY 1""",

    "q08_visited_set" ->
      s"""SELECT DISTINCT ${Trajectories.eventTypeStateSql} AS state
          FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0""",

    "q09_msm_rownorm" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d),
          c AS (SELECT s0, s1, count(*) AS cnt FROM p
            WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY s0, s1)
          SELECT s0, s1, round(CAST(cnt AS DOUBLE) /
            CAST(sum(cnt) OVER (PARTITION BY s0) AS DOUBLE), 6) AS t_prob
          FROM c""",

    "q10_sliding_effective" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 2) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d)
          SELECT s0, s1, CAST(count(*) AS DOUBLE) / 2.0 AS cnt_eff FROM p
          WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY s0, s1""",

    "q26_sample_indices" ->
      s"""WITH d AS (SELECT user_id AS traj_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events)
          SELECT state, count(*) AS n_visits, min(t) AS first_t, max(t) AS last_t,
            count(DISTINCT traj_id) AS n_trajs
          FROM d GROUP BY state""",

    // Sparse-MSM twin: the three data-sized anchors (visited states, count
    // nnz, transition total) are exact SQL over the same 2000-bin
    // discretization and lag-1 pairs; the model-contract rows are
    // driver-exact zero residuals (SCC parity, stationarity, detailed
    // balance, eigensolver cross-check).
    "q91_sparse_msm" ->
      """WITH mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
         d AS (SELECT user_id,
             CAST(least(floor((value - mn) / ((mx - mn) / 2000)), 1999) AS INT) AS state,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t
           FROM events, mm),
         p AS (SELECT state AS s0,
             LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d),
         pairs AS (SELECT s0, s1 FROM p WHERE s1 IS NOT NULL),
         agg AS (SELECT count(*) AS n_trans,
                        count(DISTINCT (s0, s1)) AS nnz FROM pairs),
         st AS (SELECT count(DISTINCT s) AS n_states FROM
                 (SELECT s0 AS s FROM pairs UNION SELECT s1 FROM pairs))
         SELECT 'n_states_visited' AS "check",
                (SELECT CAST(n_states AS DOUBLE) FROM st) AS "value"
         UNION ALL SELECT 'nnz', (SELECT CAST(nnz AS DOUBLE) FROM agg)
         UNION ALL SELECT 'n_transitions', (SELECT CAST(n_trans AS DOUBLE) FROM agg)
         UNION ALL SELECT 'scc_bfs_parity', 0.0
         UNION ALL SELECT 'rowsums', 0.0
         UNION ALL SELECT 'pi_normalized', 0.0
         UNION ALL SELECT 'pi_stationarity', 0.0
         UNION ALL SELECT 'detailed_balance', 0.0
         UNION ALL SELECT 'lambda1_minus_one', 0.0
         UNION ALL SELECT 'lanczos_arnoldi_lambda2', 0.0
         UNION ALL SELECT 'committor_bvp', 0.0
         UNION ALL SELECT 'mfpt_linear_system', 0.0
         UNION ALL SELECT 'corr_const_one', 0.0
         UNION ALL SELECT 'corr_reversible_symmetry', 0.0
         UNION ALL SELECT 'relax_from_pi_flat', 0.0
         UNION ALL SELECT 'fingerprint_amp0', 0.0""",

    // Reversible-MLE residual grid over the symmetrized observed-pair
    // support (computed from the base tables).
    "q31_msm_reversible" ->
      s"""WITH d AS (SELECT user_id AS traj_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY traj_id ORDER BY t) AS s1 FROM d),
          c AS (SELECT DISTINCT s0, s1 FROM p
            WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0),
          sym AS (SELECT s0, s1 FROM c UNION SELECT s1, s0 FROM c)
          SELECT s0, s1, 0.0 AS db_resid, 0.0 AS row_resid FROM sym""",

    // Implied-timescales eigenproblem-residual grid.
    "q34_its" -> {
      val rows = (for (l <- Seq(1, 2, 3, 5); p <- 0 until 3)
        yield s"($l, $p, 0.0, 0.0)").mkString(", ")
      s"""SELECT * FROM (VALUES $rows) AS t(lag, process, eig_resid, its_consistency)"""
    },

    "q38_bayesian_timescales" ->
      """SELECT * FROM (VALUES (0, 0.0, 0.0, 0.0, 0.0), (1, 0.0, 0.0, 0.0, 0.0))
         AS t(process, ci_order_viol, negativity_viol, nonfinite, gather_viol)""",

    // Committor BVP-residual grid over the observed states.
    "q39_committors" ->
      s"""SELECT DISTINCT ${Trajectories.eventTypeStateSql} AS state,
            0.0 AS fwd_bvp_resid, 0.0 AS bwd_bvp_resid
          FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0""",

    "q40_tpt_flux" ->
      s"""SELECT DISTINCT ${Trajectories.eventTypeStateSql} AS state,
            0.0 AS conservation_resid
          FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0""",

    "q41_pcca_memberships" ->
      s"""SELECT DISTINCT ${Trajectories.eventTypeStateSql} AS state,
            k.k AS metastable_set, 0.0 AS rowsum_resid, 0.0 AS nonneg_viol,
            0.0 AS bayes_inversion_resid
          FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
          WHERE ${Trajectories.eventTypeStateSql} >= 0""",

    // Viterbi path battery; path length is the exact observed-frame count.
    "q46_hmm_viterbi" ->
      s"""SELECT 'path_len' AS "check",
            (SELECT CAST(count(*) AS DOUBLE) FROM events
             WHERE ${Trajectories.eventTypeStateSql} >= 0) AS "value"
          UNION ALL SELECT 'hidden_out_of_range', 0.0""",

    // Fingerprint spectral-identity battery; component count = state count.
    "q55_fingerprints" ->
      s"""SELECT 'amp_sum_minus_corr0' AS "check", 0.0 AS "value"
          UNION ALL SELECT 'stationary_amp_resid', 0.0
          UNION ALL SELECT 'autocorr_amp_negativity', 0.0
          UNION ALL SELECT 'n_components',
            (SELECT CAST(count(DISTINCT ${Trajectories.eventTypeStateSql}) AS DOUBLE)
             FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0)""",

    "q57_hitting_probability" ->
      s"""SELECT DISTINCT ${Trajectories.eventTypeStateSql} AS state,
            0.0 AS bvp_resid
          FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0""",

    // OOM invariant grid over the observed-state cross product.
    "q59_oom_msm" ->
      s"""WITH sts AS (SELECT DISTINCT ${Trajectories.eventTypeStateSql} AS state
            FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0)
          SELECT a.state AS s0, b.state AS s1, 0.0 AS row_resid, 0.0 AS nonneg_viol
          FROM sts a CROSS JOIN sts b""",

    "q60_tram" ->
      s"""SELECT DISTINCT ${Trajectories.eventTypeStateSql} AS state,
            0.0 AS pi_norm_resid, 0.0 AS f_nonfinite, 0.0 AS pi_negativity
          FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0""",

    "q263_tram_distributed" ->
      s"""SELECT DISTINCT ${Trajectories.eventTypeStateSql} AS state,
            0.0 AS f_resid, 0.0 AS fk_resid, 0.0 AS pi_norm_resid
          FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0""",

    "q61_amm" ->
      s"""SELECT DISTINCT ${Trajectories.eventTypeStateSql} AS state,
            0.0 AS pi_stationarity_resid, 0.0 AS pi_norm_resid
          FROM events WHERE ${Trajectories.eventTypeStateSql} >= 0""",

    "q65_tpt_pathways" ->
      """SELECT * FROM (VALUES
           ('path_endpoints_viol', 0.0), ('flux_nonpositive', 0.0),
           ('flux_rank_order_viol', 0.0), ('uncaptured_total_flux', 0.0),
           ('n_paths_positive', 0.0)) AS t("check", "value")""",

    // Crisp-set CK grid: estimates from per-lag row-normalized counts,
    // predictions from matrix powers of the lag-1 matrix (self-joins),
    // coarse-grained with the state-histogram weights — all pair-count
    // ratios, reproduced here end to end.
    "q37_cktest" ->
      s"""WITH d AS (SELECT user_id AS traj_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          lp AS (
            SELECT 1 AS lag, state AS s0,
              LEAD(state, 1) OVER (PARTITION BY traj_id ORDER BY t) AS s1 FROM d
            UNION ALL SELECT 2, state,
              LEAD(state, 2) OVER (PARTITION BY traj_id ORDER BY t) FROM d
            UNION ALL SELECT 3, state,
              LEAD(state, 3) OVER (PARTITION BY traj_id ORDER BY t) FROM d),
          c AS (SELECT lag, s0, s1, CAST(count(*) AS DOUBLE) AS cnt FROM lp
            WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY 1, 2, 3),
          tm AS (SELECT lag, s0, s1,
            cnt / sum(cnt) OVER (PARTITION BY lag, s0) AS p FROM c),
          t1 AS (SELECT s0, s1, p FROM tm WHERE lag = 1),
          t2p AS (SELECT a.s0, b.s1, sum(a.p * b.p) AS p
            FROM t1 a JOIN t1 b ON a.s1 = b.s0 GROUP BY 1, 2),
          t3p AS (SELECT a.s0, b.s1, sum(a.p * b.p) AS p
            FROM t2p a JOIN t1 b ON a.s1 = b.s0 GROUP BY 1, 2),
          h AS (SELECT state, CAST(count(*) AS DOUBLE) AS w FROM d
            WHERE state >= 0 GROUP BY 1),
          sets AS (SELECT state, CASE WHEN state <= 1 THEN 0 ELSE 1 END AS si, w FROM h),
          den AS (SELECT si AS set_i, sum(w) AS den FROM sets GROUP BY 1),
          predt AS (SELECT 1 AS lag, * FROM t1
            UNION ALL SELECT 2, * FROM t2p UNION ALL SELECT 3, * FROM t3p),
          predn AS (SELECT t.lag, a.si AS set_i, b.si AS set_j, sum(a.w * t.p) AS num
            FROM predt t JOIN sets a ON a.state = t.s0 JOIN sets b ON b.state = t.s1
            GROUP BY 1, 2, 3),
          estn AS (SELECT t.lag, a.si AS set_i, b.si AS set_j, sum(a.w * t.p) AS num
            FROM tm t JOIN sets a ON a.state = t.s0 JOIN sets b ON b.state = t.s1
            GROUP BY 1, 2, 3),
          grid AS (SELECT p.lag, p.set_i, p.set_j,
              round(p.num / dp.den, 6) AS predicted,
              round(e.num / dp.den, 6) AS estimated
            FROM predn p
            JOIN estn e ON e.lag = p.lag AND e.set_i = p.set_i AND e.set_j = p.set_j
            JOIN den dp ON dp.set_i = p.set_i)
          SELECT * FROM grid
          UNION ALL SELECT 0, i.si, j.si,
            CASE WHEN i.si = j.si THEN 1.0 ELSE 0.0 END,
            CASE WHEN i.si = j.si THEN 1.0 ELSE 0.0 END
          FROM (SELECT DISTINCT si FROM sets) i CROSS JOIN
               (SELECT DISTINCT si FROM sets) j""",

    // E[C_ij]/rowsum == T_ij exactly (N pi_i cancels); pi stationarity
    // residual is a driver-exact 0 on every row.
    "q56_expected_counts" ->
      s"""WITH d AS (SELECT user_id AS traj_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY traj_id ORDER BY t) AS s1 FROM d),
          c AS (SELECT s0, s1, CAST(count(*) AS DOUBLE) AS cnt FROM p
            WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY 1, 2)
          SELECT s0, s1, round(cnt / sum(cnt) OVER (PARTITION BY s0), 6) AS tprob,
            0.0 AS pi_resid FROM c""",

    "q36_effective_counts" ->
      s"""WITH d AS (SELECT user_id AS traj_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          c0 AS (SELECT traj_id, t, state AS s0,
            LEAD(state, 1) OVER (PARTITION BY traj_id ORDER BY t) AS y FROM d),
          cond AS (SELECT s0, traj_id, t, y,
            ROW_NUMBER() OVER (PARTITION BY s0, traj_id ORDER BY t) AS u
            FROM c0 WHERE y IS NOT NULL AND s0 >= 0 AND y >= 0),
          c AS (SELECT s0, y AS s1, CAST(count(*) AS DOUBLE) AS cnt FROM cond GROUP BY 1, 2),
          crow AS (SELECT s0, sum(cnt) AS ci FROM c GROUP BY 1),
          nmax AS (SELECT s0, CAST(max(len) AS DOUBLE) AS nm FROM
            (SELECT s0, traj_id, count(*) AS len FROM cond GROUP BY 1, 2) GROUP BY 1),
          lags AS (SELECT CAST(lag AS INT) AS lag FROM range(1, 26) t(lag)),
          pairs AS (SELECT c1.s0, l.lag, c1.y AS y0, c2.y AS y1, count(*) AS pcnt
            FROM cond c1 CROSS JOIN lags l
            JOIN cond c2 ON c2.s0 = c1.s0 AND c2.traj_id = c1.traj_id
              AND c2.u = c1.u + l.lag
            GROUP BY 1, 2, 3, 4),
          nl AS (SELECT s0, lag, CAST(sum(pcnt) AS DOUBLE) AS nl FROM pairs GROUP BY 1, 2),
          shj AS (SELECT s0, lag, y0 AS j, CAST(sum(pcnt) AS DOUBLE) AS sh
            FROM pairs GROUP BY 1, 2, 3),
          stj AS (SELECT s0, lag, y1 AS j, CAST(sum(pcnt) AS DOUBLE) AS st
            FROM pairs GROUP BY 1, 2, 3),
          njj AS (SELECT s0, lag, y0 AS j, CAST(sum(pcnt) AS DOUBLE) AS njj
            FROM pairs WHERE y0 = y1 GROUP BY 1, 2, 3),
          grid AS (SELECT c.s0, c.s1 AS j, l.lag, c.cnt, crow.ci, nmax.nm
            FROM c JOIN crow USING (s0) JOIN nmax USING (s0) CROSS JOIN lags l),
          acf AS (SELECT g.s0, g.j, g.lag, g.nm,
            CASE WHEN nl.nl IS NULL OR nl.nl = 0 THEN NULL ELSE
              (coalesce(njj.njj, 0) - (g.cnt / g.ci) * (coalesce(shj.sh, 0) + coalesce(stj.st, 0))
                + (g.cnt / g.ci) * (g.cnt / g.ci) * nl.nl) / nl.nl END AS a
            FROM grid g
            LEFT JOIN nl ON nl.s0 = g.s0 AND nl.lag = g.lag
            LEFT JOIN shj ON shj.s0 = g.s0 AND shj.lag = g.lag AND shj.j = g.j
            LEFT JOIN stj ON stj.s0 = g.s0 AND stj.lag = g.lag AND stj.j = g.j
            LEFT JOIN njj ON njj.s0 = g.s0 AND njj.lag = g.lag AND njj.j = g.j),
          trunc AS (SELECT s0, j, min(lag) AS lmin FROM acf
            WHERE a IS NULL OR a <= 0 GROUP BY 1, 2),
          corr AS (SELECT acf.s0, acf.j, sum(acf.a * (1.0 - acf.lag / acf.nm)) AS corrsum
            FROM acf LEFT JOIN trunc ON trunc.s0 = acf.s0 AND trunc.j = acf.j
            WHERE trunc.lmin IS NULL OR acf.lag < trunc.lmin
            GROUP BY 1, 2),
          ineff AS (SELECT c.s0, c.s1, c.cnt,
            1.0 / (2.0 * (0.5 + coalesce(corr.corrsum, 0) / (c.cnt / crow.ci))) AS i
            FROM c JOIN crow USING (s0)
            LEFT JOIN corr ON corr.s0 = c.s0 AND corr.j = c.s1),
          factor AS (SELECT ineff.s0, sum(ineff.i * ineff.cnt) / min(crow.ci) AS f
            FROM ineff JOIN crow USING (s0) GROUP BY 1)
          SELECT CAST(ineff.s0 AS INT) AS s0, CAST(ineff.s1 AS INT) AS s1,
            round(factor.f * ineff.cnt, 4) AS cnt_eff
          FROM ineff JOIN factor USING (s0) WHERE ineff.cnt > 0""",

    "q33_multilag_counts" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (
            SELECT 1 AS lag, state AS s0,
              LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d
            UNION ALL
            SELECT 2 AS lag, state AS s0,
              LEAD(state, 2) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d
            UNION ALL
            SELECT 4 AS lag, state AS s0,
              LEAD(state, 4) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d)
          SELECT lag, s0, s1, count(*) AS cnt FROM p
          WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0
          GROUP BY lag, s0, s1""",

    "q35_cond_frame" ->
      s"""WITH d AS (SELECT user_id AS traj_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          c AS (SELECT traj_id, t, state AS s0,
            LEAD(state, 1) OVER (PARTITION BY traj_id ORDER BY t) AS y FROM d)
          SELECT s0, traj_id, t, y,
            CAST(ROW_NUMBER() OVER (PARTITION BY s0, traj_id ORDER BY t) AS INT) AS u
          FROM c WHERE y IS NOT NULL AND s0 >= 0 AND y >= 0""",

    "q54_sample_by_state" ->
      s"""WITH d AS (SELECT ${Trajectories.eventTypeStateSql} AS state FROM events),
          c AS (SELECT state, count(*) AS cnt FROM d WHERE state >= 0 GROUP BY state)
          SELECT state, CAST(least(cnt, 10) AS BIGINT) AS n_sampled FROM c""",

    "q67_girsanov_counts" ->
      s"""WITH d AS (SELECT user_id AS traj_id, value, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT traj_id, t, state, value,
            LEAD(state, 2) OVER (PARTITION BY traj_id ORDER BY t) AS s1,
            sum(value / 100000.0) OVER (PARTITION BY traj_id ORDER BY t
              ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS m_sum
            FROM d)
          SELECT state AS s0, s1, round(sum(1.0 * exp(-m_sum)), 6) AS cnt_rw
          FROM p WHERE s1 IS NOT NULL AND state >= 0 AND s1 >= 0
          GROUP BY state, s1""",

    "q69_rate_matrix" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 2) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d),
          c AS (SELECT s0, s1, count(*) AS cnt FROM p
            WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY s0, s1),
          t AS (SELECT s0, s1, CAST(cnt AS DOUBLE) /
            CAST(sum(cnt) OVER (PARTITION BY s0) AS DOUBLE) AS t_prob FROM c)
          SELECT s0, s1, round((t_prob - CASE WHEN s0 = s1 THEN 1.0 ELSE 0.0 END)
            / 2.0, 6) AS rate FROM t""",

    "q58_twostep_counts" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1,
            LEAD(state, 2) OVER (PARTITION BY user_id ORDER BY t) AS s2 FROM d)
          SELECT s0, s1, s2, count(*) AS cnt FROM p
          WHERE s1 IS NOT NULL AND s2 IS NOT NULL
            AND s0 >= 0 AND s1 >= 0 AND s2 >= 0
          GROUP BY s0, s1, s2""",

    // Estimation-api twin: the count matrix from the q05 shape, the
    // prior matrices by their defining formulas, the nonreversible-MLE
    // log-likelihood sum(c ln(c/rowsum))/N, row-0's Dirichlet posterior
    // covariance, and the full error-perturbation triple sum — all
    // recomputed independently in SQL.
    "q138_count_priors" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d),
          cm AS (SELECT s0, s1, count(*) AS cnt FROM p
            WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY s0, s1),
          grid AS (SELECT gi.r AS i, gj.r AS j
            FROM range(0, 5) gi(r), range(0, 5) gj(r)),
          g AS (SELECT grid.i, grid.j, COALESCE(cm.cnt, 0) AS cnt
            FROM grid LEFT JOIN cm ON cm.s0 = grid.i AND cm.s1 = grid.j),
          rs AS (SELECT i, CAST(sum(cnt) AS DOUBLE) AS r FROM g GROUP BY i),
          tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS nt FROM g),
          ll AS (SELECT sum(CASE WHEN g.cnt > 0
                THEN g.cnt * ln(g.cnt / rs.r) END) / (SELECT nt FROM tot) AS llpc
            FROM g JOIN rs USING (i)),
          al AS (SELECT i, j, cnt + 1.0 AS a FROM g),
          a0 AS (SELECT i, CAST(sum(a) AS DOUBLE) AS a0 FROM al GROUP BY i),
          covt AS (SELECT x.i AS i, x.j AS j, y.j AS l,
              ((CASE WHEN x.j = y.j THEN a0.a0 * x.a ELSE 0 END) - x.a * y.a)
                / (a0.a0 * a0.a0 * (a0.a0 + 1.0)) AS cov
            FROM al x JOIN al y ON x.i = y.i JOIN a0 ON a0.i = x.i),
          ep AS (SELECT sum(((i + 1) * (j + 1) / 25.0) * cov
              * ((i + 1) * (l + 1) / 25.0)) * 1e6 AS v FROM covt)
          SELECT CAST(g.i AS INT) AS i, CAST(g.j AS INT) AS j,
            CAST(g.cnt AS BIGINT) AS cnt,
            CASE WHEN g.cnt + gt.cnt > 0 THEN CAST(0.001 AS DOUBLE)
                 ELSE CAST(0.0 AS DOUBLE) END AS b_neighbor,
            CAST(0.001 AS DOUBLE) AS b_const,
            CASE WHEN g.i <= g.j THEN CAST(-1.0 AS DOUBLE)
                 ELSE CAST(0.0 AS DOUBLE) END AS b_rev,
            round((SELECT cov FROM covt
              WHERE covt.i = 0 AND covt.j = g.i AND covt.l = g.j) * 1e6, 6)
              AS cov0_ppm,
            round((SELECT llpc FROM ll), 6) AS ll_per_count,
            round((SELECT v FROM ep), 6) AS err_ppm
          FROM g JOIN g gt ON gt.i = g.j AND gt.j = g.i""",

    // Submodel twin: rownorm of the restricted count matrix over the
    // kept {0, 2, 4} states, all 9 grid cells.
    "q140_msm_submodel" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d),
          cm AS (SELECT s0, s1, count(*) AS cnt FROM p
            WHERE s1 IS NOT NULL AND s0 IN (0, 2, 4) AND s1 IN (0, 2, 4)
            GROUP BY s0, s1),
          ks(k) AS (VALUES (0), (2), (4)),
          grid AS (SELECT a.k AS i, b.k AS j FROM ks a, ks b),
          g AS (SELECT grid.i, grid.j, COALESCE(cm.cnt, 0) AS cnt
            FROM grid LEFT JOIN cm ON cm.s0 = grid.i AND cm.s1 = grid.j),
          rs AS (SELECT i, CAST(sum(cnt) AS DOUBLE) AS r FROM g GROUP BY i)
          SELECT CAST(g.i AS INT) AS s0, CAST(g.j AS INT) AS s1,
            round(CAST(g.cnt AS DOUBLE) / rs.r, 6) AS p
          FROM g JOIN rs USING (i)""",

    // Simulator gates: exact anchors + statistically-bounded residuals
    // (the q47 convention — residual columns are exact zeros).
    "q142_markov_simulate" ->
      """SELECT 'n_rows' AS "check", 32000.0 AS "value"
         UNION ALL SELECT 'n_states_visited', 5.0
         UNION ALL SELECT 'off_support_transitions', 0.0
         UNION ALL SELECT 'occupancy_out_of_bounds', 0.0
         UNION ALL SELECT 'double_well_detailed_balance', 0.0
         UNION ALL SELECT 'double_well_row_stochastic', 0.0
         UNION ALL SELECT 'double_well_tridiagonal', 0.0""",

    // Drunkard twin: exact contract anchors (48 walks x 200 steps).
    "q144_drunkard_walk" ->
      """SELECT 'n_rows' AS "check", 9600.0 AS "value"
         UNION ALL SELECT 'absorbing_exits', 0.0
         UNION ALL SELECT 'illegal_moves', 0.0""",

    // Bayesian-HMM twin: facade contract anchors.
    "q145_bayesian_hmm" ->
      """SELECT 'n_samples' AS "check", 20.0 AS "value"
         UNION ALL SELECT 'samples_row_stochastic', 0.0
         UNION ALL SELECT 'ci_ordering', 0.0
         UNION ALL SELECT 'gather_stats_contract', 0.0""",

    // Eig-sort twin: ordering/identity zeros plus the SQL-recomputed
    // trace of the row-normalized count matrix.
    "q149_eig_sort_trace" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d),
          cm AS (SELECT s0, s1, count(*) AS cnt FROM p
            WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY s0, s1),
          rs AS (SELECT s0, CAST(sum(cnt) AS DOUBLE) AS r FROM cm GROUP BY s0),
          tr AS (SELECT sum(CAST(cm.cnt AS DOUBLE) / rs.r) AS v
            FROM cm JOIN rs USING (s0) WHERE cm.s0 = cm.s1)
          SELECT 'eig_sorted_desc' AS "check", 0.0 AS "value"
          UNION ALL SELECT 'lambda1_minus_one', 0.0
          UNION ALL SELECT 'eig_sum_minus_trace', 0.0
          UNION ALL SELECT 'trace', (SELECT round(v, 6) FROM tr)""",

    // HMM-init twin: shape anchors (2x2 -> 22, 2x5 -> 25) and exact-zero
    // stochasticity residuals.
    "q151_hmm_init" ->
      """SELECT 'transition_shape' AS "check", 22.0 AS "value"
         UNION ALL SELECT 'emission_shape', 25.0
         UNION ALL SELECT 'transition_row_stochastic', 0.0
         UNION ALL SELECT 'emission_row_stochastic', 0.0
         UNION ALL SELECT 'initial_normalized', 0.0
         UNION ALL SELECT 'all_nonnegative', 0.0
         UNION ALL SELECT 'disc_valid_model', 0.0
         UNION ALL SELECT 'disc_block_purity', 0.0
         UNION ALL SELECT 'sep_valid_model', 0.0
         UNION ALL SELECT 'sep_row_emits_only_4', 0.0
         UNION ALL SELECT 'sep_leak_to_metastable_rows', 0.0""",

    // Prediction-eval twin: the dtraj replay, the integer split rule,
    // the argmax with the same tie-break, per-(s0, pred) accuracy.
    "q229_markov_predict" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          nn AS (SELECT user_id, count(*) AS n FROM d GROUP BY 1),
          p AS (SELECT d.user_id, d.t, d.state AS s0,
              LEAD(d.state, 1) OVER (PARTITION BY d.user_id ORDER BY d.t)
                AS s1, nn.n
            FROM d JOIN nn ON d.user_id = nn.user_id),
          pairs AS (SELECT s0, s1,
              CASE WHEN (t + 1) * 10 < n * 7 THEN 1 ELSE 0 END AS is_train
            FROM p WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0),
          tr AS (SELECT s0, s1, count(*) AS c FROM pairs
            WHERE is_train = 1 GROUP BY 1, 2),
          pr AS (SELECT s0, s1 AS pred FROM (SELECT s0, s1,
              row_number() OVER (PARTITION BY s0 ORDER BY c DESC, s1) AS rk
            FROM tr) WHERE rk = 1)
          SELECT pairs.s0, pr.pred, CAST(count(*) AS BIGINT) AS n_test,
            CAST(sum(CASE WHEN pairs.s1 = pr.pred THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct,
            round(CAST(sum(CASE WHEN pairs.s1 = pr.pred THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*), 6) AS accuracy
          FROM pairs LEFT JOIN pr ON pairs.s0 = pr.s0
          WHERE pairs.is_train = 0
          GROUP BY pairs.s0, pr.pred""",
  )
}
