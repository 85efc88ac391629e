package graft.clustering

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** RegularSpace / MiniBatchKMeans / Metric registry (reference
  * tests/clustering/test_regspace.py dmin invariant,
  * tests/clustering/test_kmeans.py minibatch convergence). */
class ClusteringSpec extends SparkSpec with Matchers {

  def blobs(n: Int, seed: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(seed)
    val centers = Array(Array(0.0, 0.0), Array(5.0, 5.0), Array(-5.0, 5.0))
    (0 until n).map { i =>
      val c = centers(i % 3)
      (i.toLong, 0L, Seq(c(0) + 0.5 * rng.nextGaussian(), c(1) + 0.5 * rng.nextGaussian()))
    }.toDF("traj_id", "t", "features")
  }

  test("regspace: centers pairwise >= dmin apart; every point within 2*dmin") {
    val df = blobs(3000, 5L).cache()
    val dmin = 2.0
    val model = RegularSpace.fit(df, dmin, maxCenters = 100)
    model.k should be >= 3
    // dmin invariant (exact, matches reference postcondition)
    for (i <- 0 until model.k; j <- i + 1 until model.k)
      EuclideanMetric.dist(model.centers(i), model.centers(j)) should be >= dmin
    // coverage: streaming-leader bound 2*dmin
    val assigned = model.transform(df)
    val centersB = model.centers
    import spark.implicits._
    val maxDist = assigned.select(col("features"), col("state"))
      .as[(Seq[Double], Int)]
      .map { case (x, s) => EuclideanMetric.dist(x.toArray, centersB(s)) }
      .reduce(math.max _)
    maxDist should be < 2.0 * dmin
  }

  test("regspace respects maxCenters cap") {
    val df = blobs(500, 7L)
    val model = RegularSpace.fit(df, dmin = 0.01, maxCenters = 10)
    model.k shouldBe 10
  }

  test("minibatch kmeans finds the three blobs") {
    val df = blobs(6000, 11L).cache()
    val model = MiniBatchKMeans.fit(df, k = 3, batchFraction = 0.2, seed = 19L)
    model.k shouldBe 3
    // each true blob center has a fitted center nearby
    val truth = Seq(Array(0.0, 0.0), Array(5.0, 5.0), Array(-5.0, 5.0))
    truth.foreach { t =>
      model.centers.map(c => EuclideanMetric.dist(c, t)).min should be < 0.5
    }
    // assignment splits data roughly in thirds
    val sizes = model.transform(df).groupBy("state").count()
      .collect().map(_.getLong(1))
    sizes.length shouldBe 3
    sizes.foreach(_ should be > 1500L)
  }

  test("minibatch kmeans: local and distributed transports agree " +
    "(same hash-drawn batches, float merge order only)") {
    val df = blobs(4000, 31L).cache()
    try {
      // forced-local vs forced-distributed (the BayesianHmm q265
      // pattern): identical init (same seeded sample + fit), identical
      // hash-drawn batch membership, so centers differ only in float
      // summation order of the per-batch means
      val local = MiniBatchKMeans.fit(df, k = 3, batchFraction = 0.2,
        seed = 19L, localThreshold = Long.MaxValue)
      val dist = MiniBatchKMeans.fit(df, k = 3, batchFraction = 0.2,
        seed = 19L, localThreshold = 0L)
      local.k shouldBe dist.k
      local.centers.zip(dist.centers).foreach { case (a, b) =>
        a.zip(b).foreach { case (x, y) => x shouldBe y +- 1e-6 }
      }
    } finally { df.unpersist(); () }
  }

  test("randomized stress: minibatch transport parity across shapes " +
    "(forced-local == forced-distributed to float merge order)") {
    import spark.implicits._
    val master = new scala.util.Random(53)
    for (round <- 0 until 6) {
      val n = 800 + master.nextInt(2500)
      val k = 2 + master.nextInt(3)
      val d = 2 + master.nextInt(3)
      val frac = Seq(0.1, 0.25, 0.5)(master.nextInt(3))
      val centersTrue = Array.fill(k, d)(master.nextInt(9) * 4.0 - 16.0)
      val rng = new java.util.SplittableRandom(round * 97L + 11L)
      val pts = (0 until n).map { i =>
        val c = centersTrue(i % k)
        c.map(_ + rng.nextGaussian() * 0.5).toSeq
      }
      val df = pts.toDF("features").repartition(1 + master.nextInt(6)).cache()
      try {
        val seed = 7L + round
        val local = MiniBatchKMeans.fit(df, k, batchFraction = frac,
          maxEpochs = 2, seed = seed, localThreshold = Long.MaxValue)
        val dist = MiniBatchKMeans.fit(df, k, batchFraction = frac,
          maxEpochs = 2, seed = seed, localThreshold = 0L)
        withClue(s"round=$round n=$n k=$k d=$d frac=$frac: ") {
          local.k shouldBe dist.k
          local.centers.zip(dist.centers).foreach { case (a, b) =>
            a.zip(b).foreach { case (x, y) => x shouldBe y +- 1e-6 }
          }
        }
      } finally { df.unpersist(); () }
    }
  }

  test("randomized stress: Lloyd transport parity across shapes and metrics " +
    "(forced-local == forced-distributed to float merge order)") {
    import spark.implicits._
    val master = new scala.util.Random(71)
    for (round <- 0 until 4) {
      val n = 600 + master.nextInt(2000)
      val k = 2 + master.nextInt(3)
      val d = 2 + master.nextInt(3)
      val metric = Seq(EuclideanMetric, ManhattanMetric, ChebyshevMetric)(round % 3)
      val centersTrue = Array.fill(k, d)(master.nextInt(9) * 4.0 - 16.0)
      val rng = new java.util.SplittableRandom(round * 131L + 5L)
      val pts = (0 until n).map { i =>
        val c = centersTrue(i % k)
        c.map(_ + rng.nextGaussian() * 0.5).toSeq
      }
      val df = pts.toDF("features").repartition(1 + master.nextInt(6)).cache()
      try {
        val seed = 3L + round
        val local = LloydKMeans.fit(df, k, metric = metric, maxIter = 6,
          seed = seed, localThreshold = Long.MaxValue)
        val dist = LloydKMeans.fit(df, k, metric = metric, maxIter = 6,
          seed = seed, localThreshold = 0L)
        withClue(s"round=$round n=$n k=$k d=$d metric=$metric: ") {
          local.k shouldBe dist.k
          local.centers.zip(dist.centers).foreach { case (a, b) =>
            a.zip(b).foreach { case (x, y) => x shouldBe y +- 1e-6 }
          }
        }
      } finally { df.unpersist(); () }
    }
  }

  test("metric registry resolves and computes correctly") {
    Metrics.available should contain allOf ("euclidean", "manhattan", "chebyshev")
    val x = Array(1.0, 2.0); val y = Array(4.0, 6.0)
    Metrics("euclidean").dist(x, y) shouldBe 5.0 +- 1e-12
    Metrics("manhattan").dist(x, y) shouldBe 7.0 +- 1e-12
    Metrics("chebyshev").dist(x, y) shouldBe 4.0 +- 1e-12
    an[IllegalArgumentException] should be thrownBy Metrics("nope")
  }

  test("regspace with chebyshev metric honors the metric") {
    val df = blobs(1000, 23L)
    val model = RegularSpace.fit(df, dmin = 3.0, maxCenters = 50, metric = ChebyshevMetric)
    for (i <- 0 until model.k; j <- i + 1 until model.k)
      ChebyshevMetric.dist(model.centers(i), model.centers(j)) should be >= 3.0
  }

  test("custom-metric Lloyd recovers the three blobs with manhattan distance") {
    val df = blobs(3000, 31L).cache()
    val model = LloydKMeans.fit(df, k = 3, metric = ManhattanMetric,
      maxIter = 25, tol = 1e-6, seed = 3L)
    model.k shouldBe 3
    val truth = Seq(Array(0.0, 0.0), Array(5.0, 5.0), Array(-5.0, 5.0))
    truth.foreach { t =>
      model.centers.map(c => ManhattanMetric.dist(c, t)).min should be < 0.5
    }
    // metric-aware assignment agrees with a driver-side argmin replay
    import spark.implicits._
    val centersB = model.centers
    val mism = model.transformMetric(df, ManhattanMetric)
      .select(col("features"), col("state")).as[(Seq[Double], Int)]
      .map { case (x, s) =>
        val d = centersB.map(c => ManhattanMetric.dist(x.toArray, c))
        if (d(s) <= d.min + 1e-12) 0 else 1
      }.reduce(_ + _)
    mism shouldBe 0
  }

  test("custom-metric Lloyd with chebyshev metric assigns by that metric") {
    // a point set where chebyshev and euclidean argmin disagree: centers
    // fixed, check transformMetric uses the requested metric's argmin
    import spark.implicits._
    val model = ClusterModel(Array(Array(0.0, 0.0), Array(6.0, 3.0)))
    // point (4.0, 3.1): euclid d0=sqrt(16+9.61)=5.06 < d1=sqrt(4+0.01)... no
    // chebyshev: d0 = 4.0, d1 = max(2.0, 0.1) = 2.0 -> center 1
    // manhattan: d0 = 7.1, d1 = 2.1 -> center 1; euclid d0 5.06 > d1 2.00
    // use (3.0, 0.4): cheby d0=3.0, d1=max(3.0,2.6)=3.0 tie -> argmin=0;
    //                euclid d0=3.03, d1=sqrt(9+6.76)=3.97 -> 0
    // and (3.9, 3.9): cheby d0=3.9, d1=max(2.1,0.9)=2.1 -> 1;
    //                 manhattan d0=7.8, d1=3.0 -> 1; euclid d0=5.52, d1=2.29 -> 1
    // disagreeing point: (2.6, -2.9): cheby d0=2.9, d1=max(3.4,5.9)=5.9 -> 0
    val df = Seq((0L, 0L, Seq(4.0, 3.1)), (1L, 0L, Seq(2.6, -2.9)))
      .toDF("traj_id", "t", "features")
    val got = model.transformMetric(df, ChebyshevMetric)
      .select("traj_id", "state").as[(Long, Int)].collect().toMap
    got(0L) shouldBe 1
    got(1L) shouldBe 0
  }

  test("fit1dExact is fitHistogram over valueHistogram, to the bit") {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(29L)
    // heavy duplicates: three modes on a 0.05 grid
    val df = (0 until 4000).map { i =>
      val mu = Array(-3.0, 0.5, 4.0)(i % 3)
      Seq(math.rint((mu + 0.6 * rng.nextGaussian()) * 20.0) / 20.0)
    }.toDF("features").repartition(3).cache()
    try {
      for (k <- Seq(1, 3, 5); seed <- Seq(7L, 42L)) {
        val direct = KMeans.fit1dExact(df, k, seed = seed)
        val composed = KMeans.fitHistogram(KMeans.valueHistogram(df, 1 << 20), k, seed = seed)
        withClue(s"k=$k seed=$seed: ") {
          composed.centers.map(_.toSeq).toSeq shouldBe direct.centers.map(_.toSeq).toSeq
        }
      }
    } finally { df.unpersist(); () }
  }

  test("fit1dExact above maxDistinct is LloydKMeans.fit, to the bit, and recovers the planted centers") {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(31L)
    val planted = Array(-4.0, 1.0, 6.0)
    // every value distinct, far more of them than maxDistinct
    val df = (0 until 3000).map(i => Seq(planted(i % 3) + 0.2 * rng.nextGaussian()))
      .toDF("features").repartition(3).cache()
    try {
      KMeans.valueHistogram(df, 64).length should be > 64
      for (seed <- Seq(7L, 42L)) withClue(s"seed=$seed: ") {
        val viaFallback = KMeans.fit1dExact(df, 3, seed = seed, maxIter = 40, maxDistinct = 64)
        val direct = LloydKMeans.fit(df, 3, maxIter = 40, tol = KMeans.LargeTol, seed = seed)
        viaFallback.centers.map(_.toSeq).toSeq shouldBe direct.centers.map(_.toSeq).toSeq
        val got = viaFallback.centers.map(_(0)).sorted
        got.length shouldBe 3
        got.zip(planted).foreach { case (g, p) => g shouldBe p +- 0.05 }
      }
    } finally { df.unpersist(); () }
  }

  test("a local-leg Lloyd fit runs at most 2 jobs and seeds like KMeansPlusPlus.seed, to the bit") {
    // a local relation: reading a cached or shuffled input would add the
    // adaptive planner's own materialization job to the count
    val df = blobs(3000, 41L)
    for (seed <- Seq(7L, 42L)) withClue(s"seed=$seed: ") {
      var seeded: ClusterModel = null
      jobsLaunchedBy { seeded = LloydKMeans.fit(df, 3, maxIter = 0, seed = seed) } should be <= 2
      seeded.centers.map(_.toSeq).toSeq shouldBe
        KMeansPlusPlus.seed(df, 3, seed).map(_.toSeq).toSeq
      jobsLaunchedBy(LloydKMeans.fit(df, 3, seed = seed)) should be <= 2
    }
  }

  test("a local-leg Lloyd fit over a cached, repartitioned frame runs at most 2 jobs") {
    // the transport reads through a plan prepared without adaptive
    // execution, which would fill the fit's cache in a job of its own
    val df = blobs(3000, 43L).repartition(3).cache()
    try {
      df.count()
      jobsLaunchedBy(LloydKMeans.fit(df, 3, maxIter = 5, seed = 7L)) should be <= 2
    } finally { df.unpersist(); () }
  }

  test("LloydKMeans.fit rejects a NaN or infinite feature value, naming the operator") {
    import spark.implicits._
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity); threshold <- Seq(0L, Long.MaxValue)) {
      val df = (Seq(Seq(bad, 0.0)) ++ (0 until 20).map(i => Seq(i.toDouble, 1.0)))
        .toDF("features").repartition(2)
      val e = intercept[Exception](LloydKMeans.fit(df, 2, localThreshold = threshold))
      def msgs(t: Throwable): Seq[String] =
        Option(t.getMessage).toSeq ++ Option(t.getCause).toSeq.flatMap(msgs)
      withClue(s"value=$bad threshold=$threshold: ") {
        assert(msgs(e).exists(m => m.contains("LloydKMeans.fit") && m.contains("NaN or Infinity")),
          e.getMessage)
      }
    }
  }

  test("the 1-d and k-means fits raise a named non-empty precondition on an empty frame") {
    import spark.implicits._
    val empty = Seq.empty[Seq[Double]].toDF("features")
    def fails(op: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      e.getMessage should include(op)
      e.getMessage should include("non-empty")
    }
    fails("KMeans.fit1dExact")(KMeans.fit1dExact(empty, 2))
    fails("KMeans.fitHistogram")(KMeans.fitHistogram(Array.empty, 2))
    for (threshold <- Seq(0L, Long.MaxValue)) {
      fails("LloydKMeans.fit")(LloydKMeans.fit(empty, 2, localThreshold = threshold))
      // with init the loop would otherwise return the init centers unchanged
      fails("LloydKMeans.fit")(LloydKMeans.fit(empty, 2, localThreshold = threshold,
        init = Some(Array(Array(0.0), Array(1.0)))))
      fails("MiniBatchKMeans.fit")(MiniBatchKMeans.fit(empty, 2, localThreshold = threshold))
      fails("MiniBatchKMeans.fit")(MiniBatchKMeans.fit(empty, 2, localThreshold = threshold,
        init = Some(Array(Array(0.0), Array(1.0)))))
    }
  }
}
