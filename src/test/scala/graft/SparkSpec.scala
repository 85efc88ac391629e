package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sc = spark.sparkContext

  /** Spark jobs launched by `body`, counted by a listener. The listener
    * bus is asynchronous, so a marker job is run afterwards in its own
    * group and the count is read once the marker's end has arrived (the
    * bus delivers events in order). */
  def jobsLaunchedBy(body: => Unit): Int = {
    val probe = "spark-spec-probe"
    val marker = "spark-spec-marker"
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
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's end never reached the listener")
      started.get()
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4, Seq("spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
