package graft.markov.hmm

import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
import graft.SparkSpec
import graft.data.MarkovSim
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** HMM stack (reference tests/markov/hmm/test_mlhmm.py: 2-state recovery
  * with known transition/emission; Viterbi path correctness;
  * test_output_models Gaussian M-step). */
class HmmSpec extends SparkSpec with Matchers {

  /** 2-hidden-state chain with well-separated discrete emissions:
    * hidden 0 emits mostly {0,1}, hidden 1 emits mostly {2,3}. */
  def discreteHmmData(nTraj: Int, length: Int, seed: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val a = Array(Array(0.92, 0.08), Array(0.06, 0.94))
    val b = Array(Array(0.55, 0.40, 0.04, 0.01), Array(0.02, 0.03, 0.45, 0.50))
    val rng = new java.util.SplittableRandom(seed)
    def draw(p: Array[Double]): Int = {
      val u = rng.nextDouble(); var acc = 0.0
      p.indices.foreach { i => acc += p(i); if (u < acc) return i }
      p.length - 1
    }
    (0 until nTraj).flatMap { id =>
      var h = if (rng.nextDouble() < 0.5) 0 else 1
      (0 until length).map { t =>
        val obs = draw(b(h))
        val row = (id.toLong, t.toLong, obs, h)
        h = draw(a(h))
        row
      }
    }.toDF("traj_id", "t", "state", "hidden_true")
  }

  test("discrete HMM EM recovers transition and emission structure") {
    val data = discreteHmmData(6, 1500, seed = 31L).cache()
    val model = Hmm.fit(data.select("traj_id", "t", "state"),
      nHidden = 2, nObs = 4, maxIter = 60)
    model.logLikelihood should be < 0.0
    val a = model.transition
    // label-matching: find which fitted state emits low symbols
    val emitsLow0 = model.emission(0, 0) + model.emission(0, 1)
    val (s0, s1) = if (emitsLow0 > 0.5) (0, 1) else (1, 0)
    a(s0, s0) shouldBe 0.92 +- 0.05
    a(s1, s1) shouldBe 0.94 +- 0.05
    model.emission(s0, 0) + model.emission(s0, 1) should be > 0.9
    model.emission(s1, 2) + model.emission(s1, 3) should be > 0.9
    // rows stochastic
    bsum(a(0, ::).t) shouldBe 1.0 +- 1e-9
    bsum(model.emission(0, ::).t) shouldBe 1.0 +- 1e-9
  }

  test("discrete Viterbi recovers most of the true hidden path") {
    val data = discreteHmmData(4, 800, seed = 37L).cache()
    val model = Hmm.fit(data.select("traj_id", "t", "state"),
      nHidden = 2, nObs = 4, maxIter = 60)
    val decoded = Hmm.viterbi(data.select("traj_id", "t", "state"), model, nObs = 4)
    val joined = decoded.join(data, Seq("traj_id", "t"))
    val agree = joined.where(col("hidden") === col("hidden_true")).count().toDouble /
      joined.count()
    // accept either labeling
    math.max(agree, 1.0 - agree) should be > 0.9
  }

  test("gaussian HMM recovers means, sigmas and transition matrix") {
    val truth = GaussianHmm.GaussianHmmModel(
      DenseMatrix((0.95, 0.05), (0.08, 0.92)),
      means = Array(-1.0, 1.5), sigmas = Array(0.4, 0.5),
      initial = DenseVector(0.5, 0.5), Double.NegativeInfinity, 0)
    val data = GaussianHmm.generate(spark, truth, nTraj = 6, length = 1200, seed = 41L).cache()
    val model = GaussianHmm.fit(data, nHidden = 2, maxIter = 80)
    val order = if (model.means(0) < model.means(1)) Array(0, 1) else Array(1, 0)
    model.means(order(0)) shouldBe -1.0 +- 0.1
    model.means(order(1)) shouldBe 1.5 +- 0.1
    model.sigmas(order(0)) shouldBe 0.4 +- 0.08
    model.sigmas(order(1)) shouldBe 0.5 +- 0.08
    model.transition(order(0), order(0)) shouldBe 0.95 +- 0.04
    model.transition(order(1), order(1)) shouldBe 0.92 +- 0.04
  }

  test("gaussian Viterbi decodes well-separated states") {
    val truth = GaussianHmm.GaussianHmmModel(
      DenseMatrix((0.9, 0.1), (0.1, 0.9)),
      means = Array(-2.0, 2.0), sigmas = Array(0.5, 0.5),
      initial = DenseVector(0.5, 0.5), Double.NegativeInfinity, 0)
    val data = GaussianHmm.generate(spark, truth, nTraj = 3, length = 500, seed = 43L).cache()
    val model = GaussianHmm.fit(data, nHidden = 2, maxIter = 50)
    val decoded = GaussianHmm.viterbi(data, model)
    val joined = decoded.join(data, Seq("traj_id", "t"))
    val agree = joined.where(col("hidden") === col("hidden_true")).count().toDouble /
      joined.count()
    math.max(agree, 1.0 - agree) should be > 0.95
  }

  test("distributed GMM EM recovers a 1-d mixture") {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(53L)
    // weights (0.5, 0.3, 0.2), means (-2, 0.5, 4), sigmas (0.5, 0.4, 0.3)
    val data = (0 until 6000).map { _ =>
      val u = rng.nextDouble()
      if (u < 0.5) -2.0 + 0.5 * rng.nextGaussian()
      else if (u < 0.8) 0.5 + 0.4 * rng.nextGaussian()
      else 4.0 + 0.3 * rng.nextGaussian()
    }.toDF("value")
    val g = GaussianHmm.gmmFit(data, 3)
    val order = (0 until 3).sortBy(g.means(_))
    g.means(order(0)) shouldBe -2.0 +- 0.1
    g.means(order(1)) shouldBe 0.5 +- 0.1
    g.means(order(2)) shouldBe 4.0 +- 0.1
    g.weights(order(0)) shouldBe 0.5 +- 0.05
    g.weights(order(1)) shouldBe 0.3 +- 0.05
    g.weights(order(2)) shouldBe 0.2 +- 0.05
    g.sigmas(order(0)) shouldBe 0.5 +- 0.08
    g.sigmas(order(1)) shouldBe 0.4 +- 0.08
    g.sigmas(order(2)) shouldBe 0.3 +- 0.08
    g.weights.sum shouldBe 1.0 +- 1e-9
  }

  test("GMM init guess is a valid HMM and places means on the modes") {
    val truth = GaussianHmm.GaussianHmmModel(
      DenseMatrix((0.95, 0.05), (0.08, 0.92)),
      means = Array(-1.0, 1.5), sigmas = Array(0.4, 0.5),
      initial = DenseVector(0.5, 0.5), Double.NegativeInfinity, 0)
    val data = GaussianHmm.generate(spark, truth, nTraj = 4, length = 800, seed = 59L).cache()
    val init = GaussianHmm.initialGuessGmm(data, 2, "value")
    // row-stochastic transition from the fractional counts MLE
    (0 until 2).foreach { i =>
      bsum(init.transition(i, ::).t) shouldBe 1.0 +- 1e-9
      init.transition(i, i) should be > 0.5 // metastability survives init
    }
    bsum(init.initial) shouldBe 1.0 +- 1e-9
    val order = if (init.means(0) < init.means(1)) Array(0, 1) else Array(1, 0)
    init.means(order(0)) shouldBe -1.0 +- 0.2
    init.means(order(1)) shouldBe 1.5 +- 0.2
  }

  test("GMM init beats quantile init on overlapping wells with a rare far mode") {
    // two OVERLAPPING bulk wells (1.2 sigma apart) plus a RARELY-visited
    // state far out at 50 — the regime the reference's GMM init exists
    // for: the quantile guess puts all three means in the bulk with
    // sigma = sd/m, under which the far samples are likelihood-zero
    // outliers (flattened rows), and Baum-Welch has to escape through
    // several sigma-inflation iterations before a state can claim the
    // far mode; the k-means-seeded GMM claims it before HMM EM starts.
    val truth = GaussianHmm.GaussianHmmModel(
      DenseMatrix(
        (0.9662, 0.033, 0.0008),
        (0.0330, 0.9662, 0.0008),
        (0.0750, 0.0750, 0.8500)),
      means = Array(-0.6, 0.6, 50.0), sigmas = Array(0.5, 0.5, 0.4),
      initial = DenseVector(0.5, 0.5, 0.0), Double.NegativeInfinity, 0)
    val data = GaussianHmm.generate(spark, truth, nTraj = 4, length = 1500, seed = 61L).cache()
    // At scale every Baum-Welch iteration is a FULL corpus scan, so the
    // init quality question is: likelihood reached per iteration budget.
    // Quantile init must first discover the far mode through the slow
    // sigma-inflation escape path; GMM init starts essentially at the
    // optimum. Compare TRUE forward likelihoods (the EM-internal number
    // hides outlier rows via flattening).
    val budget = 2
    val viaGmm = GaussianHmm.fit(data, nHidden = 3, maxIter = budget, init = "gmm")
    val viaQuantile = GaussianHmm.fit(data, nHidden = 3, maxIter = budget, init = "quantile")
    val llGmm = GaussianHmm.scoreLogLikelihood(data, viaGmm)
    val llQuantile = GaussianHmm.scoreLogLikelihood(data, viaQuantile)
    info(f"score@$budget gmm=$llGmm%.1f quantile=$llQuantile%.1f; " +
      f"gmm means=${viaGmm.means.map(v => f"$v%.2f").mkString(",")} " +
      f"quantile means=${viaQuantile.means.map(v => f"$v%.2f").mkString(",")}")
    llGmm should be > llQuantile + 10.0
    // and the GMM-initialized fit actually found the far mode
    viaGmm.means.max shouldBe 50.0 +- 0.3
    // uncapped, both eventually reach the same optimum — but the GMM
    // start needs fewer corpus passes to get there
    val fullGmm = GaussianHmm.fit(data, nHidden = 3, maxIter = 200, init = "gmm")
    val fullQuantile = GaussianHmm.fit(data, nHidden = 3, maxIter = 200, init = "quantile")
    info(s"iterations to converge: gmm=${fullGmm.iterations} " +
      s"quantile=${fullQuantile.iterations}")
    fullGmm.iterations should be < fullQuantile.iterations
    data.unpersist()
  }

  test("discrete HMM init from MSM+PCCA produces a valid model") {
    val chain = MarkovSim.defaultBirthDeath
    val dtraj = MarkovSim.simulate(spark, chain.transitionMatrix, 4, 800, seed = 47L)
    val init = Hmm.initialGuess(dtraj, nHidden = 2, nObs = chain.n, lagtime = 1)
    init.transition.rows shouldBe 2
    bsum(init.transition(0, ::).t) shouldBe 1.0 +- 1e-9
    bsum(init.emission(0, ::).t) shouldBe 1.0 +- 1e-9
    bsum(init.initial) shouldBe 1.0 +- 1e-9
  }

  def validModel(init: Hmm.HmmModel): Unit = {
    val m = init.transition.rows
    for (i <- 0 until m) {
      bsum(init.transition(i, ::).t) shouldBe 1.0 +- 1e-9
      bsum(init.emission(i, ::).t) shouldBe 1.0 +- 1e-9
      init.transition(i, ::).t.toArray.foreach(_ should be >= 0.0)
      init.emission(i, ::).t.toArray.foreach(_ should be >= 0.0)
    }
    bsum(init.initial) shouldBe 1.0 +- 1e-9
    init.initial.toArray.foreach(_ should be >= 0.0)
  }

  test("init with separate symbols: last hidden state emits exactly the separate set") {
    // well-connected 5-state chain; symbol 4 forced into its own hidden state
    // (reference _init_discrete_impl.py:85-104 separate_symbols)
    val counts = DenseMatrix(
      (40.0, 12.0, 1.0, 0.0, 2.0),
      (11.0, 35.0, 9.0, 1.0, 1.0),
      (1.0, 10.0, 30.0, 8.0, 2.0),
      (0.0, 2.0, 7.0, 25.0, 3.0),
      (2.0, 1.0, 2.0, 4.0, 20.0))
    val init = Hmm.initialGuessFromCounts(counts, nHidden = 3, nObs = 5,
      lagtime = 1, separate = Some(Seq(4)))
    validModel(init)
    // the separate hidden state (last row) carries nearly all its mass on
    // symbol 4; non-separate rows only see the eps floor there
    init.emission(2, 4) should be > 0.9
    init.emission(0, 4) should be < 0.01
    init.emission(1, 4) should be < 0.01
    // non-separate rows partition the metastable {0,1} / {2,3} structure:
    // the two rows put clearly different mass on the low block
    val low0 = init.emission(0, 0) + init.emission(0, 1)
    val low1 = init.emission(1, 0) + init.emission(1, 1)
    math.abs(low0 - low1) should be > 0.5
  }

  test("init on genuinely disconnected counts (mode=all): closed-set repair keeps both blocks") {
    // two 2-state blocks with NO transitions between them — the old init's
    // plain reversible MLE had no defined behavior here; the repair
    // estimates each closed set separately and weights pi by counts
    // (_transition_matrix.py estimate_P + stationary_distribution(P, C))
    val counts = DenseMatrix(
      (30.0, 10.0, 0.0, 0.0),
      (9.0, 25.0, 0.0, 0.0),
      (0.0, 0.0, 20.0, 6.0),
      (0.0, 0.0, 7.0, 15.0))
    val init = Hmm.initialGuessFromCounts(counts, nHidden = 2, nObs = 4,
      lagtime = 1, mode = "all")
    validModel(init)
    // PCCA must discover the two blocks as the two hidden states
    val block0 = init.emission(0, 0) + init.emission(0, 1)
    val block1 = init.emission(1, 0) + init.emission(1, 1)
    math.abs(block0 - block1) should be > 0.9 // one row on block {0,1}, the other on {2,3}
  }

  test("partial-rev repair: transient block keeps outflow, closed block is reversible") {
    // one-way bridge 1 -> 2: strong components {0,1} (with outflow) and
    // {2,3} (closed) — exercises transition_matrix_partial_rev
    val counts = DenseMatrix(
      (10.0, 5.0, 0.0, 0.0),
      (4.0, 10.0, 2.0, 0.0),
      (0.0, 0.0, 8.0, 6.0),
      (0.0, 0.0, 5.0, 9.0))
    val p = graft.markov.TransitionRepair.estimateP(counts, reversible = true)
    for (i <- 0 until 4) bsum(p(i, ::).t) shouldBe 1.0 +- 1e-6
    p(1, 2) should be > 0.0 // outflow preserved
    p(0, 2) shouldBe 0.0
    p(2, 0) shouldBe 0.0    // closed block never flows back
    // the closed block {2,3} is exactly the standard reversible MLE of its
    // count block (estimate_P dispatches closed sets to the plain estimator)
    val mleClosed = graft.markov.TransitionMatrixMle.reversible(
      DenseMatrix((8.0, 6.0), (5.0, 9.0)))
    for (i <- 0 until 2; j <- 0 until 2)
      p(2 + i, 2 + j) shouldBe mleClosed(i, j) +- 1e-6
  }

  test("enforceReversibleOnClosed preserves the stationary vector and yields detailed balance") {
    val p = DenseMatrix(
      (0.7, 0.2, 0.1),
      (0.05, 0.8, 0.15),
      (0.25, 0.05, 0.7))
    val piBefore = graft.linalg.LinAlg.stationaryDistribution(p)
    val pRev = graft.markov.TransitionRepair.enforceReversibleOnClosed(p)
    val piAfter = graft.linalg.LinAlg.stationaryDistribution(pRev)
    for (i <- 0 until 3) {
      piAfter(i) shouldBe piBefore(i) +- 1e-10
      for (j <- 0 until 3)
        piAfter(i) * pRev(i, j) shouldBe piAfter(j) * pRev(j, i) +- 1e-10
    }
  }

  // ---- r18 size-dispatch parity (the q268 contract, extended to the
  // Gaussian stack): the driver-local transport must agree with the
  // forced-distributed one to the float-merge-order band. tol = 0 pins
  // both runs to exactly maxIter iterations (the q268/ADVICE r15 rule:
  // a positive tol could end the transports on different counts).

  test("GaussianHmm.fit local and distributed transports agree to 1e-7") {
    val truth = GaussianHmm.GaussianHmmModel(
      DenseMatrix((0.9, 0.1), (0.15, 0.85)),
      means = Array(-1.0, 2.0), sigmas = Array(0.5, 0.6),
      initial = DenseVector(0.5, 0.5), Double.NegativeInfinity, 0)
    val data = GaussianHmm.generate(spark, truth, nTraj = 4, length = 400, seed = 71L).cache()
    val loc = GaussianHmm.fit(data, 2, maxIter = 5, tol = 0.0,
      localThreshold = Long.MaxValue)
    val dist = GaussianHmm.fit(data, 2, maxIter = 5, tol = 0.0,
      localThreshold = 0L)
    def flat(m: GaussianHmm.GaussianHmmModel): Array[Double] =
      m.transition.toArray ++ m.means ++ m.sigmas ++ m.initial.toArray
    flat(loc).zip(flat(dist)).foreach { case (p, q) =>
      p shouldBe q +- 1e-7
    }
    loc.iterations shouldBe dist.iterations
  }

  test("Hmm.fit local and distributed transports agree to 1e-7") {
    val data = discreteHmmData(4, 400, seed = 43L).select("traj_id", "t", "state").cache()
    val loc = Hmm.fit(data, nHidden = 2, nObs = 4, maxIter = 5, tol = 0.0,
      localThreshold = Long.MaxValue)
    val dist = Hmm.fit(data, nHidden = 2, nObs = 4, maxIter = 5, tol = 0.0,
      localThreshold = 0L)
    def flat(m: Hmm.HmmModel): Array[Double] =
      m.transition.toArray ++ m.emission.toArray ++ m.initial.toArray
    flat(loc).zip(flat(dist)).foreach { case (p, q) =>
      p shouldBe q +- 1e-7
    }
    loc.iterations shouldBe dist.iterations
  }

  test("gmmFit local and distributed transports agree to 1e-7") {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(73L)
    val data = (0 until 5000).map { _ =>
      if (rng.nextDouble() < 0.6) -1.5 + 0.5 * rng.nextGaussian()
      else 2.0 + 0.4 * rng.nextGaussian()
    }.toDF("value").cache()
    val loc = GaussianHmm.gmmFit(data, 2, maxIter = 8, tol = 0.0,
      localThreshold = Long.MaxValue)
    val dist = GaussianHmm.gmmFit(data, 2, maxIter = 8, tol = 0.0,
      localThreshold = 0L)
    loc.weights.zip(dist.weights).foreach { case (p, q) => p shouldBe q +- 1e-7 }
    loc.means.zip(dist.means).foreach { case (p, q) => p shouldBe q +- 1e-7 }
    loc.sigmas.zip(dist.sigmas).foreach { case (p, q) => p shouldBe q +- 1e-7 }
    loc.iterations shouldBe dist.iterations
    math.abs(loc.logLikelihood - dist.logLikelihood) should be < 1e-5
  }

  test("GaussianHmm.fit on an empty frame raises the non-empty precondition") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("traj_id", "t", "value")
    for (init <- Seq("gmm", "quantile")) {
      val e = intercept[IllegalArgumentException] {
        GaussianHmm.fit(empty, 2, init = init)
      }
      e.getMessage should include("GaussianHmm.fit")
      e.getMessage should include("non-empty")
    }
  }

  test("GaussianHmm.fit rejects an unknown init before any Spark job") {
    import spark.implicits._
    val data = Seq((0L, 0L, 0.5), (0L, 1L, 1.5)).toDF("traj_id", "t", "value")
    var e: IllegalArgumentException = null
    jobsLaunchedBy {
      e = intercept[IllegalArgumentException](GaussianHmm.fit(data, 2, init = "kmeans"))
    } shouldBe 0
    e.getMessage should include("GaussianHmm.fit")
    e.getMessage should include("unknown init 'kmeans'")
  }

  test("Hmm.fit and the BayesianHmm samplers on an empty frame raise the " +
    "non-empty precondition") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("traj_id", "t", "value")
    val emptyStates = Seq.empty[(Long, Long, Int)].toDF("traj_id", "t", "state")
    def fails(op: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      e.getMessage should include(op)
      e.getMessage should include("non-empty")
    }
    fails("Hmm.fit")(Hmm.fit(emptyStates, nHidden = 2, nObs = 4))
    val ml = Hmm.HmmModel(DenseMatrix((0.9, 0.1), (0.1, 0.9)),
      DenseMatrix((0.5, 0.5), (0.5, 0.5)), DenseVector(0.5, 0.5),
      Double.NegativeInfinity, 0)
    fails("BayesianHmm.sample")(BayesianHmm.sample(emptyStates, ml, nObs = 2))
    val mlG = GaussianHmm.GaussianHmmModel(DenseMatrix((0.9, 0.1), (0.1, 0.9)),
      Array(0.0, 1.0), Array(1.0, 1.0), DenseVector(0.5, 0.5), Double.NegativeInfinity, 0)
    fails("BayesianHmm.sampleGaussian")(BayesianHmm.sampleGaussian(empty, mlG))
  }
}
