package graft

import org.scalatest.matchers.should.Matchers

/** Pins [[GraftSession]] to the benchmark: perfbench's `Harness` builds
  * its session by hand, so the engine's sessions and the one the
  * benchmark times must not drift apart. */
class GraftSessionSpec extends SparkSpec with Matchers {

  private val harness = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("perfbench/src/main/scala/graft/perfbench/Harness.scala")), "UTF-8")

  test("the benchmark session's literal settings are exactly GraftSession's") {
    // per-run paths, not session behaviour
    val perRun = Set("spark.local.dir", "spark.sql.warehouse.dir")
    val literal = """\.config\(\s*"([^"]+)",\s*"([^"]*)"\s*\)""".r
    val pinned = literal.findAllMatchIn(harness)
      .map(m => m.group(1) -> m.group(2)).toMap -- perRun
    val settings = GraftSession.settings(7).toMap --
      Set("spark.master", "spark.sql.shuffle.partitions")
    pinned shouldBe settings
  }

  test("master and shuffle partitions follow the core count, as in the benchmark") {
    harness should include (""".master(s"local[$cores]")""")
    harness should include (""".config("spark.sql.shuffle.partitions", cores.toString)""")
    harness should include (".withExtensions(new graft.functions.GraftExtensions)")
    for (cpus <- Seq(1, 4, 32)) {
      val s = GraftSession.settings(cpus).toMap
      s("spark.master") shouldBe s"local[$cpus]"
      s("spark.sql.shuffle.partitions") shouldBe cpus.toString
    }
  }

  test("the spec session and its new sessions resolve array_dot in SQL") {
    for (s <- Seq(spark, spark.newSession()))
      s.sql("SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head().getDouble(0) shouldBe 11.0
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
  }
}
