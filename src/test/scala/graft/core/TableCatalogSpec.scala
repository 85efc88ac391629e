package graft.core

import org.scalatest.matchers.should.Matchers
import graft.SparkSpec

/** The declared table schemas against the parquet footers: every declared
  * schema must equal the one Spark infers under the session settings
  * (`nanosAsLong`, UTC), on every testdata scale and on the benchmark's
  * own copy, and a declared read must launch no Spark job. */
class TableCatalogSpec extends SparkSpec with Matchers {

  private val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf") :+
    "perfbench/data/sf0.1"

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("the catalog declares exactly the ten testdata tables") {
    TableCatalog.schemas.keySet shouldBe tables.toSet
  }

  for (dir <- dirs; name <- tables)
    test(s"declared schema of $name equals the footer-inferred schema in $dir") {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      TableCatalog.schemas(name) shouldBe inferred
      Trajectories.table(spark, dir, name).schema shouldBe inferred
    }

  test("a declared read launches no Spark job; an inferred read does") {
    val dir = dirs.last
    jobsLaunchedBy {
      tables.foreach(name => Trajectories.table(spark, dir, name).schema)
    } shouldBe 0
    jobsLaunchedBy {
      spark.read.parquet(s"$dir/events.parquet").schema
    } should be >= 1
  }
}
