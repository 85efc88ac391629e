package graft.queries

import breeze.linalg.DenseMatrix
import graft.SparkSpec
import graft.data.MarkovSim
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** q142's gate statistics: the one fused aggregation equals the three
  * separate counts it replaced. */
class SimulationCountsSpec extends SparkSpec with Matchers {

  test("simulationCounts equals count(), the windowed off-support count and " +
    "groupBy(state).count()") {
    val birthDeath = MarkovSim.defaultBirthDeath.transitionMatrix
    // a dense chain, so transitions outside the tridiagonal support occur
    val dense = DenseMatrix.tabulate(5, 5)((i, j) => 1.0 + ((i * 7 + j * 3) % 5))
    (0 until 5).foreach { i =>
      val z = breeze.linalg.sum(dense(i, ::).t)
      (0 until 5).foreach(j => dense(i, j) /= z)
    }
    for ((t, nTraj, len) <- Seq((birthDeath, 64, 500), (dense, 9, 37))) {
      val sim = MarkovSim.simulate(spark, t, nTraj, len, seed = 42L)
      val got = MarkovQueries.simulationCounts(sim, t.rows)
      val pairs = sim
        .withColumn("s1", lead(col("state"), 1)
          .over(Window.partitionBy("traj_id").orderBy("t")))
        .where(col("s1").isNotNull)
      val offSupport = pairs.where(abs(col("s1") - col("state")) > 1).count()
      val occ = sim.groupBy("state").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      withClue(s"nTraj=$nTraj len=$len: ") {
        got.nRows shouldBe sim.count()
        got.offSupport shouldBe offSupport
        occ.keySet.subsetOf((0 until t.rows).toSet) shouldBe true
        got.occupancy.toSeq shouldBe (0 until t.rows).map(occ.getOrElse(_, 0L))
      }
      if (t eq dense) offSupport should be > 0L
    }
  }
}
