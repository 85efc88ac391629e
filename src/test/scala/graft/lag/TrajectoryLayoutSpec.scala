package graft.lag

import graft.SparkSpec
import graft.core.Trajectories
import graft.markov.TransitionCounting
import graft.queries.QShared
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** The laid-out memo frames (`TrajectoryScan.layout` behind `QShared.liTraj`
  * and `QShared.dtrajEv`): they hold the source rows, declare their
  * traj_id partitioning and (traj_id, t) order, so the scan and the lag
  * windows over them plan no exchange and no sort, and they are memoized
  * per session. */
class TrajectoryLayoutSpec extends SparkSpec with Matchers with AdaptiveSparkPlanHelper {

  private val dir = "perfbench/data/sf0.1"

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
  }

  test("the scan over a laid-out frame plans no exchange and no sort") {
    for ((name, frame, values) <- Seq(
        ("liTraj", QShared.liTraj(spark, dir), Seq(col("features"))),
        ("dtrajEv", QShared.dtrajEv(spark, dir), Seq(col("state"))))) withClue(s"$name: ") {
      val plan = TrajectoryScan.plan(frame, values)
      plan.collect { case e: ShuffleExchangeExec => e } shouldBe empty
      plan.collect { case s: SortExec => s } shouldBe empty
    }
  }

  test("laying out each shared table shuffles it once") {
    // dtrajEv's row_number window already hash-partitions by traj_id, so
    // its layout reuses that exchange instead of adding a second one
    for ((name, frame, values) <- Seq(
        ("liTraj", Trajectories.fromLineitem(spark, dir), Seq(col("features"))),
        ("dtrajEv", Trajectories.dtrajFromEvents(spark, dir), Seq(col("state"))))) withClue(s"$name: ") {
      TrajectoryScan.plan(frame, values).collect { case e: ShuffleExchangeExec => e } should have size 1
    }
  }

  test("lag windows over a laid-out frame shuffle nothing by traj_id") {
    exchanges(Lag.pairs(QShared.liTraj(spark, dir), 1)) shouldBe empty
    // the count's own aggregation exchange (by s0, s1) stays
    val counts = exchanges(TransitionCounting.slidingCounts(QShared.dtrajEv(spark, dir), 1))
    counts should have size 1
    counts.head.outputPartitioning.toString should not include Trajectories.TrajCol
  }

  test("a laid-out frame holds the source rows, in the source schema") {
    val src = Trajectories.fromLineitem(spark, dir)
    val laid = QShared.liTraj(spark, dir)
    laid.schema shouldBe src.schema
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).sortBy(r => (r._1, r._2)).toSeq
    rows(laid) shouldBe rows(src)
    // (traj_id, t) order within each partition
    laid.rdd.glom().collect().foreach { part =>
      val keys = part.map(r => (r.getLong(0), r.getLong(1))).toSeq
      keys shouldBe keys.sorted
    }
  }

  test("layout rejects a nondeterministic plan, naming the operator") {
    val df = Trajectories.fromLineitem(spark, dir).withColumn("noise", rand(7L))
    val e = intercept[IllegalArgumentException](TrajectoryScan.layout(df, "SpecOp"))
    e.getMessage should include("SpecOp")
    e.getMessage should include("deterministic")
  }

  test("the memo keys by session: a new session gets its own frame, the same session the same") {
    val other = spark.newSession()
    QShared.liTraj(spark, dir) should be theSameInstanceAs QShared.liTraj(spark, dir)
    QShared.liTraj(other, dir) should not be theSameInstanceAs(QShared.liTraj(spark, dir))
    QShared.liTraj(other, dir).sparkSession should be theSameInstanceAs other
  }
}
