package graft.clustering

import org.scalatest.matchers.should.Matchers
import graft.SparkSpec

/** Standalone k-means++ seeding: D^2 weighting must land one seed per
  * well-separated blob. */
class KppSpec extends SparkSpec with Matchers {

  test("k-means++ picks one seed per separated cluster") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val blobs = Seq(0.0, 100.0, 200.0, 300.0)
    val rows = for {
      (c, bi) <- blobs.zipWithIndex
      i <- 0 until 500
    } yield ((bi * 500 + i).toLong, i.toLong, Seq(c + rnd.nextGaussian()))
    val traj = rows.toDF("traj_id", "t", "features")
    val centers = KMeansPlusPlus.seed(traj, k = 4, seedVal = 7L)
    centers.length shouldBe 4
    val assignedBlobs = centers.map(c => blobs.indexOf(blobs.minBy(b => math.abs(b - c(0)))))
    assignedBlobs.toSet shouldBe Set(0, 1, 2, 3) // one seed per blob
  }

  test("greedy k-means++ covers planted clusters that single D^2 draws often miss") {
    import spark.implicits._
    // five unit-noise clusters on a line in 4-d (the ScaleAudit cluster100
    // geometry): one D^2 draw per step lands a second seed in a covered
    // cluster for about 3 in 10 seeds, the greedy step for about 1 in 100
    val rnd = new scala.util.Random(1)
    val k = 5
    val rows = (0 until 1000).map { i =>
      val c = i % k
      (c, Seq(c * 10.0, c * 5.0, c * -3.0, c * 2.0).map(_ + rnd.nextGaussian()))
    }
    val traj = rows.map(_._2).toDF("features").cache()
    def planted(x: Array[Double]): Int = math.rint(x(0) / 10.0).toInt.max(0).min(k - 1)
    val misses = (1 to 50).count { seed =>
      KMeansPlusPlus.seed(traj, k, seedVal = seed.toLong).map(planted).toSet.size < k
    }
    traj.unpersist()
    misses should be <= 5
  }

  test("seedRows returns k centers and no null when a NaN row makes every D^2 sum NaN") {
    // the NaN row's distance to any center is NaN, so every candidate's
    // summed D^2 is NaN and no candidate compares below another
    val rows = Array(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0),
      Array(Double.NaN, 1.0), Array(10.0, 10.0), Array(5.0, 5.0))
    for (seed <- 1L to 6L) {
      val centers = KMeansPlusPlus.seedRows(rows, 3, seed)
      centers.length shouldBe 3
      all(centers) should not be null
    }
  }

  test("k is capped by the number of available rows") {
    import spark.implicits._
    val traj = Seq((1L, 0L, Seq(1.0)), (1L, 1L, Seq(2.0))).toDF("traj_id", "t", "features")
    KMeansPlusPlus.seed(traj, k = 5, seedVal = 1L).length shouldBe 2
  }

  test("an empty frame raises the named non-empty precondition") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Seq[Double])].toDF("traj_id", "t", "features")
    val e = intercept[IllegalArgumentException](KMeansPlusPlus.seed(empty, k = 3))
    e.getMessage should include("KMeansPlusPlus.seed")
    e.getMessage should include("non-empty")
  }
}
