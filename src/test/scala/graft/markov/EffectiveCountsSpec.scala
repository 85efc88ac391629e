package graft.markov

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec

/** Parity of the streaming effective-counts kernel with the window-frame
  * formulation (`conditionalFrame` + `acfPairCounts`): the sufficient
  * statistics are exact integers, so both the statistics and the
  * resulting (inefficiency, count) matrices must agree exactly. */
class EffectiveCountsSpec extends SparkSpec with Matchers {

  private val nStates = 4

  /** Seeded ragged dtrajs: lengths 1 to 60 (several shorter than tau),
    * states in [-1, nStates), non-contiguous times, rows shuffled. */
  private def randomDtraj(seed: Long): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val lengths = Seq(1, 2, 3, 60, 45, 1) ++ Seq.fill(8)(1 + rng.nextInt(50))
    val rows = lengths.zipWithIndex.flatMap { case (n, id) =>
      var t = rng.nextInt(5).toLong
      (0 until n).map { _ =>
        t += 1 + rng.nextInt(3)
        val s = if (rng.nextDouble() < 0.1) -1 else rng.nextInt(nStates)
        (id.toLong * 7, t, s)
      }
    }
    rng.shuffle(rows).toDF("traj_id", "t", "state").repartition(3)
  }

  /** The same statistics from the window frames. */
  private def windowCounts(dtraj: DataFrame, tau: Int,
                           maxLag: Int): EffectiveCounts.ConditionalCounts = {
    val cond = EffectiveCounts.conditionalFrame(dtraj, tau).cache()
    try {
      val hist = cond.groupBy("s0", "y").count().collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val nMax = Array.fill(nStates)(0L)
      cond.groupBy("s0", "traj_id").count().groupBy("s0").agg(max(col("count")))
        .collect().foreach(r => nMax(r.getInt(0)) = r.getLong(1))
      val pairs = EffectiveCounts.acfPairCounts(cond, 1 to math.max(1, maxLag))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getLong(4))
        .toMap
      EffectiveCounts.ConditionalCounts(hist, nMax.toIndexedSeq, pairs)
    } finally cond.unpersist()
  }

  for (seed <- Seq(3L, 11L); tau <- Seq(1, 2, 3); maxLag <- Seq(1, 5, 25))
    test(s"kernel equals the window frames exactly (seed $seed, tau $tau, maxLag $maxLag)") {
      val dtraj = randomDtraj(seed).cache()
      val expected = windowCounts(dtraj, tau, maxLag)
      expected.pairs should not be empty
      EffectiveCounts.conditionalCounts(dtraj, tau, nStates, maxLag) shouldBe expected
      for (truncate <- Seq(true, false)) {
        val (ineff, c) = EffectiveCounts.inefficienciesAndCounts(
          dtraj, tau, nStates, maxLag, truncateAcf = truncate)
        val (ineffRef, cRef) = EffectiveCounts.fromCounts(
          expected, nStates, maxLag, truncate, 1.0)
        c shouldBe cRef
        ineff shouldBe ineffRef
      }
      dtraj.unpersist()
    }

  test("an empty frame gives zero matrices and no statistics") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long, Int)].toDF("traj_id", "t", "state")
    val cc = EffectiveCounts.conditionalCounts(none, 1, nStates, 25)
    cc shouldBe windowCounts(none, 1, 25)
    cc.hist shouldBe empty
    val (ineff, c) = EffectiveCounts.inefficienciesAndCounts(none, 1, nStates, 25)
    c.forall(_ == 0.0) shouldBe true
    ineff.forall(_ == 0.0) shouldBe true
  }

  test("a state >= nStates raises IllegalArgumentException naming EffectiveCounts") {
    import spark.implicits._
    val bad = Seq((0L, 0L, 0), (0L, 1L, 1), (0L, 2L, nStates)).toDF("traj_id", "t", "state")
    val e = intercept[IllegalArgumentException] {
      EffectiveCounts.inefficienciesAndCounts(bad, 1, nStates, 5)
    }
    e.getMessage should include("EffectiveCounts")
    e.getMessage should include(s"state $nStates")
  }
}
