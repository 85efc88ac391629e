package graft.decomposition

import graft.SparkSpec
import graft.basis.{Identity, Monomials}
import graft.kernels.{GaussianKernel, PolynomialKernel}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** EDMD / KernelEDMD / KernelCCA / KVAD (reference
  * tests/decomposition/test_dmd.py: EDMD with identity basis reproduces
  * the linear operator; kernel variants produce consistent spectra). */
class KernelMethodsSpec extends SparkSpec with Matchers {

  /** Deterministic 2-d linear system x_{t+1} = A x_t + tiny noise:
    * eigenvalues of A are 0.9 and 0.5. */
  def linearData(n: Int = 3000, seed: Long = 3L): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(seed)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Seq[Double])]
    (0 until 6).foreach { id =>
      var x = rng.nextDouble() * 2 - 1
      var y = rng.nextDouble() * 2 - 1
      (0 until n / 6).foreach { t =>
        rows += ((id.toLong, t.toLong, Seq(x, y)))
        val nx = 0.9 * x + 0.05 * rng.nextGaussian()
        val ny = 0.5 * y + 0.05 * rng.nextGaussian()
        x = nx; y = ny
      }
    }
    rows.toSeq.toDF("traj_id", "t", "features")
  }

  test("EDMD with identity basis recovers linear-system eigenvalues") {
    val model = Edmd.fit(linearData(), Identity, tau = 1, inputDim = 2)
    val mags = model.eigenvalueMagnitudes
    mags(0) shouldBe 0.9 +- 0.05
    mags(1) shouldBe 0.5 +- 0.05
  }

  test("EDMD with monomial basis keeps the linear eigenvalues in its spectrum") {
    val model = Edmd.fit(linearData(), Monomials(2), tau = 1, inputDim = 2)
    model.p shouldBe 6
    val mags = model.eigenvalueMagnitudes
    // constant function contributes eigenvalue 1; then 0.9 and slow tail
    mags(0) shouldBe 1.0 +- 0.05
    mags.count(m => math.abs(m - 0.9) < 0.07) should be >= 1
  }

  test("kernel EDMD with linear kernel matches EDMD identity spectrum") {
    val data = linearData(1500)
    // epsilon must lift the rank-2 gram's null space well above roundoff
    // or the solve contaminates the spectrum (verified against the
    // reference algorithm in numpy: eps 1e-8 -> junk, 1e-3 -> clean)
    val km = KernelEdmd.fit(data, PolynomialKernel(1, 0.0), tau = 1,
      epsilon = 1e-3, maxLandmarks = 300)
    val mags = km.eigenvaluesRe.indices
      .map(i => math.hypot(km.eigenvaluesRe(i), km.eigenvaluesIm(i)))
      .sorted(Ordering[Double].reverse)
    // linear kernel spans exactly the 2-d feature space: two nonzero eigs
    mags(0) shouldBe 0.9 +- 0.07
    mags(1) shouldBe 0.5 +- 0.1
    mags.drop(2).foreach(_ should be < 0.1)
  }

  test("kernel CCA eigenvalues lie in [0, 1+eps] and decay") {
    val model = KernelCca.fit(linearData(1500), GaussianKernel(1.0), tau = 1,
      nEigs = 5, maxLandmarks = 200)
    model.eigenvalues.length shouldBe 5
    model.eigenvalues.foreach { v =>
      v should be > -0.05
      v should be < 1.05
    }
    model.eigenvalues.toSeq shouldBe model.eigenvalues.sorted(Ordering[Double].reverse).toSeq
  }

  test("KVAD produces nonnegative singular values and a finite score") {
    val model = Kvad.fit(linearData(1500), GaussianKernel(1.0), tau = 1,
      chi = Monomials(1), inputDim = 2, maxLandmarks = 200)
    model.singularValues.foreach(_ should be >= 0.0)
    model.score.isNaN shouldBe false
    model.score should be > 0.0
    model.koopmanMatrix(0, 0) shouldBe 1.0
  }

  test("the landmarks are the bottom-k xxhash64 pairs, the same in the same order for 1, 3 or 8 partitions") {
    val data = linearData(1200)
    val maxRows = 150
    val key = xxhash64(col("traj_id"), col("t"), lit(42L))
    // the reference: the lag-1 pairs with the smallest Spark xxhash64, in key order
    val want = graft.lag.Lag.pairs(data, 1).select(key.as("h"), col("traj_id"), col("t"), col("x"), col("y"))
      .orderBy("h", "traj_id", "t").limit(maxRows).collect()
      .map(r => (r.getSeq[Double](3), r.getSeq[Double](4))).toSeq
    val key0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (n <- Seq(1, 3, 8)) withClue(s"partitions=$n: ") {
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        val (xs, ys) = KernelData.collectPairs(data.repartition(n), tau = 1, maxRows = maxRows)
        xs.map(_.toSeq).toSeq.zip(ys.map(_.toSeq).toSeq) shouldBe want
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", key0)
  }

  test("the landmark draw pairs each frame with the one tau later in its trajectory, in one job") {
    import spark.implicits._
    // two trajectories with gaps in t, where pairing is by position
    val df = Seq((1L, 0L, 1.0), (1L, 5L, 2.0), (1L, 9L, 3.0), (1L, 10L, 4.0), (2L, 3L, 10.0), (2L, 4L, 20.0))
      .toDF("traj_id", "t", "v").withColumn("features", array(col("v")))
    var got: (Array[Array[Double]], Array[Array[Double]]) = null
    jobsLaunchedBy { got = KernelData.collectPairs(df, tau = 2, maxRows = 10) } shouldBe 1
    got._1.map(_.head).zip(got._2.map(_.head)).toSet shouldBe Set(1.0 -> 3.0, 2.0 -> 4.0)
    KernelData.collectPairs(df, tau = 1, maxRows = 2)._1.length shouldBe 2
  }
}
