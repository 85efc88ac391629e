package graft.core

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
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

  /** Spark jobs launched by `body`, counted by a listener. The listener
    * bus is asynchronous, so a marker job is run afterwards in its own
    * group and the count is read once the marker's end has arrived (the
    * bus delivers events in order). */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val probe = "table-catalog-probe"
    val marker = "table-catalog-marker"
    val started = new AtomicInteger
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`probe`) => started.incrementAndGet()
          case Some(`marker`) => markerJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, probe)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      started.get()
    } finally sc.removeSparkListener(listener)
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
