package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** SparkSessionExtensions integration: SQL-registered native functions and
  * the dot-product fusion optimizer rule, on the shared spec session. */
class GraftExtensionsSpec extends SparkSpec with Matchers {

  test("array_dot / array_cosine callable from SQL") {
    val row = spark.sql(
      """SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
         array_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c""").collect()(0)
    row.getDouble(0) shouldBe 11.0 +- 1e-12
    row.getDouble(1) shouldBe 1.0 +- 1e-12
  }

  test("optimizer rule fuses aggregate(zip_with) into array_dot") {
    // non-local source: a LocalRelation projection would be constant-folded
    // by ConvertToLocalRelation before optimizer rules can be observed
    val df = spark.range(4)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), col("id").cast("double")).as("b"))
      .select(col("a"), col("b"), aggregate(
        zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("dot"))
    // the fused expression appears in the optimized plan...
    df.queryExecution.optimizedPlan.toString should include ("array_dot")
    // ...and the values are unchanged: dot = 3*id + 2*id = 5*id
    df.collect().foreach { r =>
      val id = r.getSeq[Double](0).head
      r.getDouble(2) shouldBe 5.0 * id +- 1e-12
    }
  }

  test("rule leaves non-matching folds untouched") {
    import spark.implicits._
    val df = spark.range(1)
      .select(array(lit(1.0), lit(2.0)).as("a"), array(lit(3.0), lit(4.0)).as("b"))
      .select(aggregate(
        zip_with(col("a"), col("b"), (x, y) => x + y),  // add, not multiply
        lit(0.0), (acc, v) => acc + v).as("s"))
    df.queryExecution.optimizedPlan.toString should not include "array_dot"
    df.collect()(0).getDouble(0) shouldBe 10.0 +- 1e-12
  }

  test("thresholded levenshtein comparisons rewrite to the banded form") {
    import spark.implicits._
    val words = Seq(("abcdef", "abXdef"), ("abcdef", "ghijkl"),
      ("abcdef", "abcdef"), ("abc", "abcd"))
    val df = spark.createDataset(words).toDF("a", "b")
      // range-backed so ConvertToLocalRelation cannot fold it away
      .crossJoin(spark.range(1))
    def plan(c: org.apache.spark.sql.Column): String = {
      val q = df.select(c.as("p"))
      q.queryExecution.optimizedPlan.toString
    }
    // <= and the flipped >= rewrite (threshold literal lands in the plan)
    plan(levenshtein(col("a"), col("b")) <= 2) should include ("levenshtein(a#")
    plan(levenshtein(col("a"), col("b")) <= 2) should include ("Some(2)) >= 0")
    plan(lit(2) >= levenshtein(col("a"), col("b"))) should include ("Some(2)) >= 0")
    plan(levenshtein(col("a"), col("b")) < 3) should include ("Some(2)) >= 0")
    // NOT(lev3 >= 0) is simplified by the optimizer to lev3 < 0
    plan(levenshtein(col("a"), col("b")) > 2) should include ("Some(2)) < 0")
    // 3-arg form already banded: untouched
    plan(levenshtein(col("a"), col("b"), 5) <= 2) should not include ("Some(2)) >= 0")
    // semantics preserved across all rewritten comparison shapes
    val got = df.select(col("a"), col("b"),
      (levenshtein(col("a"), col("b")) <= 2).as("le"),
      (levenshtein(col("a"), col("b")) < 3).as("lt"),
      (levenshtein(col("a"), col("b")) > 2).as("gt")).collect()
    got.foreach { r =>
      val d = levRef(r.getString(0), r.getString(1))
      r.getBoolean(2) shouldBe (d <= 2)
      r.getBoolean(3) shouldBe (d < 3)
      r.getBoolean(4) shouldBe (d > 2)
    }
  }

  private def levRef(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }
}
