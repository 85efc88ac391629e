package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sc = spark.sparkContext

  /** Spark jobs launched by `body`, counted by a listener. */
  def jobsLaunchedBy(body: => Unit): Int = jobDescriptionsLaunchedBy(body).size

  /** The descriptions of the Spark jobs launched by `body`, in start
    * order, seen by a listener. The listener bus is asynchronous, so a
    * marker job is run afterwards in its own group and the result is read
    * once the marker's end has arrived (the bus delivers events in
    * order). A job that sets no description of its own carries the probe
    * group's, "spark-spec-probe". */
  def jobDescriptionsLaunchedBy(body: => Unit): Seq[String] = {
    val probe = "spark-spec-probe"
    val marker = "spark-spec-marker"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`probe`) =>
            started.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
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
      started.toArray(Array.empty[String]).toSeq
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4, Seq("spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
