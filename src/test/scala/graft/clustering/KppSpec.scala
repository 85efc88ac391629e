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
