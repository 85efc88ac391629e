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

  test("the trajectory groupers reject a null traj_id, t or value, naming the operator " +
    "and the column") {
    import spark.implicits._
    val model = Hmm.HmmModel(DenseMatrix((0.9, 0.1), (0.1, 0.9)),
      DenseMatrix((0.5, 0.5), (0.5, 0.5)), DenseVector(0.5, 0.5), Double.NegativeInfinity, 0)
    val modelG = GaussianHmm.GaussianHmmModel(DenseMatrix((0.9, 0.1), (0.1, 0.9)),
      Array(0.0, 1.0), Array(1.0, 1.0), DenseVector(0.5, 0.5), Double.NegativeInfinity, 0)
    /** Four frames of trajectory 0 and one frame with `nulled` left null. */
    def frame[V](nulled: String, valueCol: String, v: V)(
        toDf: Seq[(Option[Long], Option[Long], Option[V])] => org.apache.spark.sql.DataFrame) =
      toDf((0 until 4).map(t => (Some(0L), Some(t.toLong), Some(v))) :+
        ((if (nulled == "traj_id") None else Some(1L)), (if (nulled == "t") None else Some(0L)),
          (if (nulled == valueCol) None else Some(v))))
    val states = (n: String) => frame(n, "state", 1)(_.toDF("traj_id", "t", "state"))
    val values = (n: String) => frame(n, "value", 0.5)(_.toDF("traj_id", "t", "value"))
    val vectors = (n: String) => frame(n, "features", Seq(0.5))(_.toDF("traj_id", "t", "features"))
    val cases: Seq[(String, String, org.apache.spark.sql.DataFrame => Any)] = Seq(
      ("Hmm.fit", "state", Hmm.fit(_, nHidden = 2, nObs = 2)),
      ("Hmm.viterbi", "state", Hmm.viterbi(_, model, nObs = 2).collect()),
      ("GaussianHmm.fit", "value", GaussianHmm.fit(_, 2)),
      ("GaussianHmm.viterbi", "value", GaussianHmm.viterbi(_, modelG).collect()),
      ("Diff.tvDerivativeFrame", "features", graft.util.Diff.tvDerivativeFrame(_, 1).collect()))
    for ((op, valueCol, run) <- cases; nulled <- Seq("traj_id", "t", valueCol)) {
      val df = valueCol match {
        case "state" => states(nulled)
        case "value" => values(nulled)
        case _ => vectors(nulled)
      }
      val e = intercept[Exception](run(df))
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
      withClue(s"$op with a null $nulled: ${e.getMessage}") {
        chain(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains(op) && c.getMessage.contains(s"(got a null $nulled)")) shouldBe true
      }
    }
  }

  /** Two overlapping modes on a 0.05 grid: heavy duplicate values. */
  private def gridMixture(n: Int, seed: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(seed)
    (0 until n).map { _ =>
      val v = if (rng.nextDouble() < 0.6) -1.5 + 0.5 * rng.nextGaussian()
              else 2.0 + 0.4 * rng.nextGaussian()
      math.rint(v * 20.0) / 20.0
    }.toDF("value").repartition(3)
  }

  test("gmmFit's histogram EM equals the per-value EM on duplicated values to 1e-9") {
    val data = gridMixture(6000, 83L).cache()
    try {
      val (m, iters) = (3, 25)
      val g = GaussianHmm.gmmFit(data, m, maxIter = iters, tol = 0.0)
      // the per-value EM it replaced: k-means seeding, one-hot seed
      // M-step and every EM pass over each value in turn
      val feats = data.selectExpr("CAST(value AS DOUBLE) AS v").where(col("v").isNotNull)
        .select(array(col("v")).as("features"))
      val centers = graft.clustering.KMeans.fit1dExact(feats, m).centers.map(_(0))
      val xs = data.collect().map(_.getDouble(0))
      val nearest = xs.map(v => centers.indices.minBy(j => math.abs(v - centers(j))))
      var w = Array.tabulate(m)(j => nearest.count(_ == j).toDouble / xs.length)
      var mu = Array.tabulate(m)(j => xs.indices.filter(nearest(_) == j).map(xs).sum /
        nearest.count(_ == j))
      var sg = Array.tabulate(m) { j =>
        val sel = xs.indices.filter(nearest(_) == j).map(xs)
        math.sqrt(math.max(sel.map(v => v * v).sum / sel.length - mu(j) * mu(j), 0.0) + 1e-6)
      }
      var ll = 0.0
      for (_ <- 0 until iters) {
        val acc = new Array[Double](3 * m)
        ll = 0.0
        xs.foreach { v =>
          val dens = Array.tabulate(m) { j =>
            val z = (v - mu(j)) / sg(j)
            w(j) / (sg(j) * math.sqrt(2.0 * math.Pi)) * math.exp(-0.5 * z * z)
          }
          val tot = math.max(dens.sum, 1e-300)
          for (j <- 0 until m) {
            val r = dens(j) / tot
            acc(3 * j) += r; acc(3 * j + 1) += r * v; acc(3 * j + 2) += r * v * v
          }
          ll += math.log(tot)
        }
        mu = Array.tabulate(m)(j => acc(3 * j + 1) / acc(3 * j))
        sg = Array.tabulate(m)(j =>
          math.sqrt(math.max(acc(3 * j + 2) / acc(3 * j) - mu(j) * mu(j), 0.0) + 1e-6))
        w = Array.tabulate(m)(j => acc(3 * j) / xs.length)
      }
      g.iterations shouldBe iters
      for (j <- 0 until m) {
        g.weights(j) shouldBe w(j) +- 1e-9
        g.means(j) shouldBe mu(j) +- 1e-9
        g.sigmas(j) shouldBe sg(j) +- 1e-9
      }
      g.logLikelihood shouldBe ll +- 1e-9 * math.abs(ll)
      g.span shouldBe ((xs.reduce(math.min(_: Double, _: Double)), xs.reduce(math.max(_: Double, _: Double))))
    } finally { data.unpersist(); () }
  }

  test("gmmFit dispatches on distinct values and its local leg caches nothing") {
    val data = gridMixture(5000, 73L).cache()
    try {
      val distinct = data.distinct().count()
      distinct should be < 5000L
      def fit(threshold: Long) = GaussianHmm.gmmFit(data, 2, maxIter = 8, tol = 0.0,
        localThreshold = threshold)
      val persisted = sc.getPersistentRDDs.keySet
      var byDistinct, loc, dist: GaussianHmm.GmmModel = null
      // more rows than the threshold, as many distinct values: local
      val jobsByDistinct = jobsLaunchedBy { byDistinct = fit(distinct) }
      sc.getPersistentRDDs.keySet shouldBe persisted
      val jobsLocal = jobsLaunchedBy { loc = fit(Long.MaxValue) }
      val jobsDist = jobsLaunchedBy { dist = fit(distinct - 1) }
      jobsByDistinct shouldBe jobsLocal
      jobsDist should be > jobsLocal
      def flat(g: GaussianHmm.GmmModel) = (g.weights ++ g.means ++ g.sigmas).toSeq
      flat(byDistinct) shouldBe flat(loc)
      flat(loc).zip(flat(dist)).foreach { case (p, q) => p shouldBe q +- 1e-7 }
      loc.span shouldBe dist.span
    } finally { data.unpersist(); () }
  }

  test("gmmFit without non-null values raises the named non-empty precondition") {
    import spark.implicits._
    val nulls = Seq((0L, 0L, Option.empty[Double]), (0L, 1L, None)).toDF("traj_id", "t", "value")
    val persisted = sc.getPersistentRDDs.keySet
    for (df <- Seq(nulls, nulls.limit(0))) {
      val e = intercept[IllegalArgumentException](GaussianHmm.gmmFit(df, 2))
      e.getMessage should include("GaussianHmm.gmmFit")
      e.getMessage should include("non-empty")
    }
    sc.getPersistentRDDs.keySet shouldBe persisted
  }

  test("the GMM init without any consecutive non-null pair raises the named precondition") {
    import spark.implicits._
    // every trajectory has length 1: the GMM fits, but no transition exists
    val single = (0 until 20).map(i => (i.toLong, 0L, if (i % 2 == 0) -1.0 + 0.01 * i else 2.0))
      .toDF("traj_id", "t", "value")
    val e = intercept[IllegalArgumentException](GaussianHmm.initialGuessGmm(single, 2, "value"))
    e.getMessage should include("GaussianHmm.initialGuessGmm")
    e.getMessage should include("non-empty")
  }

  test("the fractional-count kernel equals the window + column aggregation it " +
    "replaced to 1e-12, in tagged jobs") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rng = new java.util.SplittableRandom(97L)
    def obs() = if (rng.nextDouble() < 0.12) None
                else Some(if (rng.nextDouble() < 0.5) -1.0 + 0.4 * rng.nextGaussian()
                          else 1.5 + 0.5 * rng.nextGaussian())
    val rows =
      (0 until 6).flatMap(id => (0 until 40 + 17 * id).map(t => (Option(id.toLong), t.toLong, obs()))) ++
        Seq((Some(6L), 0L, Some(0.3)),                                  // length 1
          (Some(7L), 0L, None), (Some(7L), 1L, None), (Some(7L), 2L, None), // all null
          (Some(8L), 0L, Some(-1.0)), (Some(8L), 1L, Some(1e6)),          // outlier row
          (Some(8L), 2L, Some(1.2))) ++
        (0 until 5).map(t => (Option.empty[Long], t.toLong, obs()))      // null traj_id
    val df = new scala.util.Random(5L).shuffle(rows).toDF("traj_id", "t", "value")
      .repartition(3)
    val gmm = GaussianHmm.GmmModel(Array(0.5, 0.5), Array(-1.0, 1.5), Array(0.4, 0.5),
      0.0, 0, (-2.0, 3.0))
    val m = 2
    var kernel: DenseMatrix[Double] = null
    val descs = jobDescriptionsLaunchedBy {
      kernel = GaussianHmm.fractionalCounts(df, "value", gmm)
    }
    descs should not be empty
    descs.toSet shouldBe Set("GaussianHmm GMM-init pair counts (m=2)")
    // the body it replaced: lead() over the trajectory window, then one
    // m²-column aggregation of normalized density products
    def stateProbs(v: org.apache.spark.sql.Column) = {
      val dens = (0 until m).map { j =>
        val z = (v - lit(gmm.means(j))) / lit(gmm.sigmas(j))
        lit(1.0 / math.sqrt(2.0 * math.Pi) / gmm.sigmas(j)) * exp(lit(-0.5) * z * z)
      }
      val tot = dens.reduce(_ + _)
      dens.map(d => when(tot < 1e-300, lit(1.0 / m)).otherwise(d / tot))
    }
    val pairs = df.selectExpr("traj_id", "t", "CAST(value AS DOUBLE) AS v")
      .withColumn("vn", lead(col("v"), 1).over(Window.partitionBy("traj_id").orderBy("t")))
      .where(col("vn").isNotNull)
    val (p, q) = (stateProbs(col("v")), stateProbs(col("vn")))
    val aggs = for (i <- 0 until m; j <- 0 until m) yield sum(p(i) * q(j))
    val row = pairs.agg(aggs.head, aggs.tail: _*).collect()(0)
    for (i <- 0 until m; j <- 0 until m) {
      val ref = row.getDouble(i * m + j)
      ref should be > 0.0
      kernel(i, j) shouldBe ref +- 1e-12 * math.max(1.0, ref)
    }
  }
}
