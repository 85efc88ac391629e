package graft.markov.hmm

import breeze.linalg.{sum => bsum}
import graft.SparkSpec
import org.scalatest.matchers.should.Matchers

/** Bayesian HMM Gibbs sampler (reference tests/markov/hmm/test_bayesian_hmm.py:
  * posterior samples are valid HMMs concentrating near the ML estimate). */
class BayesianHmmSpec extends SparkSpec with Matchers {

  test("posterior samples are valid and concentrate near truth") {
    import spark.implicits._
    // well-separated 2-state data (same generator as HmmSpec)
    val a = Array(Array(0.92, 0.08), Array(0.06, 0.94))
    val b = Array(Array(0.55, 0.40, 0.04, 0.01), Array(0.02, 0.03, 0.45, 0.50))
    val rng = new java.util.SplittableRandom(53L)
    def draw(p: Array[Double]): Int = {
      val u = rng.nextDouble(); var acc = 0.0
      p.indices.foreach { i => acc += p(i); if (u < acc) return i }
      p.length - 1
    }
    val data = (0 until 5).flatMap { id =>
      var h = 0
      (0 until 1000).map { t =>
        val o = draw(b(h)); val row = (id.toLong, t.toLong, o)
        h = draw(a(h)); row
      }
    }.toDF("traj_id", "t", "state").cache()

    val post = BayesianHmm.fit(data, nHidden = 2, nObs = 4,
      nSamples = 25, seed = 61L, maxIterMl = 40)
    post.samples.size shouldBe 25
    post.samples.foreach { s =>
      (0 until 2).foreach { i =>
        bsum(s.transition(i, ::).t) shouldBe 1.0 +- 1e-8
        bsum(s.emission(i, ::).t) shouldBe 1.0 +- 1e-8
      }
    }
    // posterior mean of self-transition near truth (label-matched)
    val low0 = post.prior.emission(0, 0) + post.prior.emission(0, 1)
    val (s0, s1) = if (low0 > 0.5) (0, 1) else (1, 0)
    val (meanA00, stdA00, lo, hi) = post.gather(s => s.transition(s0, s0))
    meanA00 shouldBe 0.92 +- 0.05
    stdA00 should be > 0.0
    stdA00 should be < 0.05
    (lo < 0.92 + 0.03 && hi > 0.92 - 0.03) shouldBe true
    val (meanA11, _, _, _) = post.gather(s => s.transition(s1, s1))
    meanA11 shouldBe 0.94 +- 0.05
  }

  test("local-sweep crossover matches the distributed reduce: discrete " +
    "posteriors bit-identical, Gaussian within float-merge-order ulps") {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(17L)
    val disc = (0 until 3).flatMap { id =>
      (0 until 400).map(t => (id.toLong, t.toLong, rng.nextInt(4)))
    }.toDF("traj_id", "t", "state")
    val mlD = Hmm.fit(disc, 2, 4, 1, maxIter = 5)
    def runD(th: Long) = BayesianHmm.sample(disc, mlD, nObs = 4, nSamples = 5,
      seed = 7L, localThreshold = th).samples
    val (dLoc, dDist) = (runD(Long.MaxValue), runD(0L))
    dLoc.zip(dDist).foreach { case (x, y) =>
      x.transition.toArray shouldBe y.transition.toArray // integer-count stats: exact
      x.emission.toArray shouldBe y.emission.toArray
      x.initial.toArray shouldBe y.initial.toArray
    }
    val cont = (0 until 3).flatMap { id =>
      (0 until 400).map(t => (id.toLong, t.toLong, rng.nextGaussian() + (t % 2) * 3.0))
    }.toDF("traj_id", "t", "value")
    val mlG = GaussianHmm.fit(cont, 2, "value", maxIter = 5)
    def runG(th: Long) = BayesianHmm.sampleGaussian(cont, mlG, nSamples = 5,
      seed = 7L, localThreshold = th).samples
    val (gLoc, gDist) = (runG(Long.MaxValue), runG(0L))
    gLoc.zip(gDist).foreach { case (x, y) =>
      x.means.zip(y.means).foreach { case (p, q) => p shouldBe q +- 1e-9 }
      x.sigmas.zip(y.sigmas).foreach { case (p, q) => p shouldBe q +- 1e-9 }
      x.transition.toArray.zip(y.transition.toArray)
        .foreach { case (p, q) => p shouldBe q +- 1e-9 }
    }
  }

  test("Gaussian-output posterior recovers (mu, sigma) on a 2-state chain") {
    import spark.implicits._
    // well-separated Gaussian emissions: state 0 ~ N(-1, 0.4), state 1 ~ N(2, 0.6)
    val a = Array(Array(0.93, 0.07), Array(0.05, 0.95))
    val mus = Array(-1.0, 2.0)
    val sds = Array(0.4, 0.6)
    val rng = new java.util.SplittableRandom(71L)
    def draw(p: Array[Double]): Int = if (rng.nextDouble() < p(0)) 0 else 1
    val data = (0 until 4).flatMap { id =>
      var h = 0
      (0 until 1200).map { t =>
        val x = mus(h) + sds(h) * rng.nextGaussian()
        val row = (id.toLong, t.toLong, x)
        h = draw(a(h)); row
      }
    }.toDF("traj_id", "t", "value").cache()

    val post = BayesianHmm.fitGaussian(data, nHidden = 2, nSamples = 25,
      seed = 83L, maxIterMl = 40)
    post.samples.size shouldBe 25
    // valid models: stochastic transitions, positive sigmas
    post.samples.foreach { s =>
      (0 until 2).foreach(i => bsum(s.transition(i, ::).t) shouldBe 1.0 +- 1e-8)
      s.sigmas.foreach(_ should be > 0.0)
    }
    // label-match by means of the ML prior
    val (s0, s1) = if (post.prior.means(0) < post.prior.means(1)) (0, 1) else (1, 0)
    val muStats = post.gatherStats(s => Array(s.means(s0), s.means(s1)), "means")
    muStats.mean(0) shouldBe -1.0 +- 0.1
    muStats.mean(1) shouldBe 2.0 +- 0.1
    val sigStats = post.gatherStats(s => Array(s.sigmas(s0), s.sigmas(s1)), "sigmas")
    sigStats.mean(0) shouldBe 0.4 +- 0.08
    sigStats.mean(1) shouldBe 0.6 +- 0.08
    // posterior genuinely varies (it is a sampler, not a point estimate)
    muStats.std(0) should be > 0.0
    sigStats.std(0) should be > 0.0
    // and the transition posterior concentrates near truth
    val aStats = post.gatherStats(s => Array(s.transition(s0, s0), s.transition(s1, s1)), "a_diag")
    aStats.mean(0) shouldBe 0.93 +- 0.05
    aStats.mean(1) shouldBe 0.95 +- 0.05
  }

  test("BayesianHmm.fit samples at its lagtime: prior and posterior describe the same lag") {
    import spark.implicits._
    // an alternating chain: self-transition 0.1 at lag 1, 0.82 at lag 2
    val rng = new java.util.SplittableRandom(97L)
    val data = (0 until 5).flatMap { id =>
      var h = 0
      (0 until 1000).map { t =>
        val row = (id.toLong, t.toLong, h)
        h = if (rng.nextDouble() < 0.1) h else 1 - h
        row
      }
    }.toDF("traj_id", "t", "state").cache()
    val post = BayesianHmm.fit(data, nHidden = 2, nObs = 2, nSamples = 20, lagtime = 2,
      seed = 5L, maxIterMl = 20)
    def selfT(m: Hmm.HmmModel) = (m.transition(0, 0) + m.transition(1, 1)) / 2
    selfT(post.prior) shouldBe 0.82 +- 0.05
    post.samples.map(selfT).sum / post.samples.size shouldBe 0.82 +- 0.05
    data.unpersist()
  }

  test("q247 groups its observations once at sf0.01: 5 jobs") {
    // the grouping's sizing job and collect, the GMM's value histogram and
    // the GMM-init pair counts; the ML EM and the Gibbs sweeps share the
    // collected grouping and run driver-local
    jobsLaunchedBy {
      graft.SparkEntry.queries("q247_bayes_gauss_hmm")(spark, "/root/testdata/sf0.01").collect()
    } shouldBe 5
  }
}
