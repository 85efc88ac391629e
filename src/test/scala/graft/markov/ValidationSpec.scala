package graft.markov

import breeze.linalg.{DenseMatrix, sum => bsum}
import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.data.MarkovSim
import org.scalatest.matchers.should.Matchers

/** ITS / CK-test validation workflow (reference util/validation.py;
  * tests/markov/test_cktest.py strategy: simulate a known Markov chain,
  * check CK predictions against re-estimates). */
class ValidationSpec extends SparkSpec with Matchers {

  lazy val chain = MarkovSim.defaultBirthDeath
  lazy val dtraj = MarkovSim.simulate(spark, chain.transitionMatrix,
    nTraj = 8, length = 3000, seed = 7L).cache()

  /** Seeded ragged dtrajs over 3 partitions, rows shuffled: one
    * trajectory with a null traj_id, several one-row trajectories, null
    * and -1 states. */
  private def raggedDtraj(seed: Long): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val ids = Seq[Option[Long]](None, Some(1L), Some(2L), Some(3L), Some(40L), Some(5L))
    val lengths = Seq(25, 1, 1, 40, 1, 12)
    val rows = ids.zip(lengths).flatMap { case (id, n) =>
      var t = rng.nextInt(4).toLong
      (0 until n).map { _ =>
        t += 1 + rng.nextInt(3)
        val u = rng.nextDouble()
        (id, t, if (u < 0.1) None else if (u < 0.2) Some(-1) else Some(rng.nextInt(4)))
      }
    }
    rng.shuffle(rows).toDF("traj_id", "t", "state").repartition(3)
  }

  test("multiLagCounts equals per-lag slidingCounts exactly") {
    import spark.implicits._
    val lags = Seq(1, 2, 5)
    dtraj.count() // fills the cache, which runs jobs of its own
    for (df <- Seq(dtraj, raggedDtraj(3L), raggedDtraj(8L))) {
      var counts: DataFrame = null
      jobDescriptionsLaunchedBy {
        counts = Validation.multiLagCounts(df, lags)
      } shouldBe Seq("Validation multi-lag counts (lags=1,2,5)")
      val multi = counts.collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
      lags.foreach { tau =>
        val single = TransitionCounting.slidingCounts(df, tau).collect()
          .map(r => ((tau, r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
        single should not be empty
        single.foreach { case (k, v) => multi(k) shouldBe v }
        multi.count(_._1._1 == tau) shouldBe single.size
      }
    }
    val none = Seq.empty[(Long, Long, Int)].toDF("traj_id", "t", "state")
    Validation.multiLagCounts(none, lags).collect() shouldBe empty
  }

  test("simulate is deterministic in seed and distribution matches pi") {
    val a = MarkovSim.simulate(spark, chain.transitionMatrix, 4, 500, seed = 11L)
    val b = MarkovSim.simulate(spark, chain.transitionMatrix, 4, 500, seed = 11L)
    a.collect().toSet shouldBe b.collect().toSet
    // empirical state frequencies close to closed-form pi
    val freq = dtraj.groupBy("state").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap
    val total = freq.values.sum
    val pi = chain.stationaryDistribution
    (0 until chain.n).foreach { s =>
      freq.getOrElse(s, 0.0) / total shouldBe pi(s) +- 0.02
    }
  }

  test("implied timescales are flat in lag for Markovian data") {
    val its = Validation.impliedTimescales(dtraj, Seq(1, 2, 3, 5), chain.n, k = 2)
    its.lagtimes shouldBe Array(1, 2, 3, 5)
    val slowest = its.timescalesForProcess(0)
    // data generated by an exact MSM: t1 independent of estimation lag
    val ref = slowest(0)
    slowest.foreach(t => math.abs(t - ref) / ref should be < 0.25)
    // and the lag-1 estimate matches the true model's timescale
    val trueT1 = MarkovStateModel(chain.transitionMatrix).timescales(1).head
    math.abs(ref - trueT1) / trueT1 should be < 0.2
  }

  test("ck test: predictions match estimates on Markovian data; lag0 is identity") {
    val ck = Validation.ckTest(dtraj, tau = 1, steps = 4, nStates = chain.n, nSets = 2)
    ck.lagtimes shouldBe Array(0, 1, 2, 3, 4)
    // lag 0: identity both ways
    ck.predictions(0) shouldBe DenseMatrix.eye[Double](2)
    ck.estimates(0) shouldBe DenseMatrix.eye[Double](2)
    // tau itself: prediction == estimate by construction
    val d1 = breeze.linalg.max(breeze.numerics.abs(ck.predictions(1) - ck.estimates(1)))
    d1 should be < 1e-12
    // longer lags: Markovian data => CK property holds within sampling noise
    (2 to 4).foreach { i =>
      val diff = breeze.linalg.max(breeze.numerics.abs(ck.predictions(i) - ck.estimates(i)))
      diff should be < 0.05
    }
    // rows of the coarse propagator are probabilities
    (0 until 2).foreach { i =>
      bsum(ck.predictions(2)(i, ::).t) shouldBe 1.0 +- 1e-6
    }
  }

  test("bayesian implied timescales: ML inside CI band, CI covers truth") {
    val its = Validation.impliedTimescalesBayesian(dtraj, Seq(1, 2), chain.n,
      k = 1, nSamples = 30, seed = 3L)
    its.lagtimes shouldBe Array(1, 2)
    val trueT1 = MarkovStateModel(chain.transitionMatrix).timescales(1).head
    its.lagtimes.indices.foreach { l =>
      val (lo, hi) = its.ci(l, 0)
      lo should be < hi
      // ML estimate within a slightly widened CI; truth within a generous band
      its.its(l)(0) should be > lo * 0.8
      its.its(l)(0) should be < hi * 1.2
      (trueT1 > lo * 0.6 && trueT1 < hi * 1.5) shouldBe true
    }
  }

  test("bayesian ck test: sample band brackets the prediction") {
    val ck = Validation.ckTestBayesian(dtraj, tau = 1, steps = 2,
      nStates = chain.n, nSets = 2, nSamples = 20, seed = 9L)
    ck.predictionSamples.length shouldBe ck.base.lagtimes.length
    // at each lag > 0 the sampled (0,0) entries spread around the ML value
    ck.base.lagtimes.indices.filter(ck.base.lagtimes(_) > 0).foreach { l =>
      val vals = ck.predictionSamples(l).map(_(0, 0))
      val ml = ck.base.predictions(l)(0, 0)
      vals.min should be <= ml + 0.02
      vals.max should be >= ml - 0.02
      (vals.max - vals.min) should be < 0.2
    }
  }

  test("wide features: TICA end-to-end at d=64 in bounded time") {
    import spark.implicits._
    val d = 64
    val rng = new java.util.SplittableRandom(13L)
    // AR(1) in the first dim + noise dims
    val rows = (0 until 2).flatMap { id =>
      var x = 0.0
      (0 until 400).map { t =>
        x = 0.9 * x + 0.3 * rng.nextGaussian()
        (id.toLong, t.toLong, Seq(x) ++ Seq.fill(d - 1)(rng.nextGaussian() * 0.1))
      }
    }
    val traj = rows.toDF("traj_id", "t", "features")
    val t0 = System.nanoTime()
    val model = graft.decomposition.Tica.fit(traj, tau = 1, dim = 3)
    val projected = model.transform(traj)
    projected.count() shouldBe 800
    val elapsed = (System.nanoTime() - t0) / 1e9
    elapsed should be < 120.0 // codegen must not blow up at wide d
    model.d shouldBe d
    // leading component carries the AR(1) signal
    model.singularValues.head should be > 0.5
  }

  test("birth-death analytic committor matches MSM linear solve") {
    val msm = MarkovStateModel(chain.transitionMatrix)
    val solved = msm.committorForward(Set(0), Set(chain.n - 1))
    val analytic = chain.committorForward(0, chain.n - 1)
    (0 until chain.n).foreach { i =>
      solved(i) shouldBe analytic(i) +- 1e-10
    }
  }

  test("double-well discrete chain is reversible with two metastable sets") {
    val t = MarkovSim.doubleWellDiscrete(nStates = 50, beta = 4.0)
    val msm = MarkovStateModel(t)
    msm.isTransitionMatrix() shouldBe true
    msm.isReversible(1e-8) shouldBe true
    // slowest non-stationary process = well-crossing: clearly separated
    val ts = msm.timescales(2)
    ts.head / ts(1) should be > 5.0
    // PCCA splits into left/right well
    val pcca = Pcca(msm, 2)
    val crisp = (0 until 50).map(i => (0 until 2).maxBy(pcca.memberships(i, _)))
    crisp.take(15).toSet.size shouldBe 1
    crisp.takeRight(15).toSet.size shouldBe 1
    crisp.head should not be crisp.last
  }
}
