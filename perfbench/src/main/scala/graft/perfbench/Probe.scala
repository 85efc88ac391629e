package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** The traced run's Spark-side recorder: one row per job (start, end, the
  * call site of its result stage, whether a structured-streaming
  * micro-batch ran it) and running totals of stage and task counters. Attached only in traced passes; untraced runs carry no
  * listener. */
final class Probe extends SparkListener {
  import Probe.Job

  val jobs = new ConcurrentLinkedQueue[Job]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskFailures = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L
  @volatile var input = 0L
  @volatile var resultBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    // Spark sets this property on the jobs of a stream's micro-batches
    val streaming = e.properties != null && e.properties.getProperty("sql.streaming.queryId") != null
    val j = Job(e.jobId, e.time, -1L, site, streaming)
    open.put(e.jobId, j); jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1

  // listener events arrive on one bus thread, so the += below never race
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    if (e.reason != Success) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      resultBytes += m.resultSize
    }
  }
}

object Probe {
  final case class Job(id: Int, startMs: Long, var endMs: Long, callSite: String, streaming: Boolean)
}

/** Samples the CPU time of the driver-local `graft-par-*` pool threads
  * every 50 ms; a thread that dies between samples loses at most one
  * interval. */
final class ParCpuSampler extends Thread("perfbench-par-sampler") {
  private val mx = ManagementFactory.getThreadMXBean
  private val lastSeen = mutable.HashMap.empty[Long, Long]
  private val base = mutable.HashMap.empty[Long, Long]
  @volatile private var running = true
  setDaemon(true)

  private def sample(): Unit = lastSeen.synchronized {
    Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-par-"))
      .foreach { t =>
        val ns = mx.getThreadCpuTime(t.getId)
        if (ns >= 0) lastSeen(t.getId) = ns
      }
  }

  override def start(): Unit = {
    sample(); lastSeen.synchronized(base ++= lastSeen); super.start()
  }

  override def run(): Unit = while (running) { sample(); Thread.sleep(50) }

  /** Stops sampling and returns the pool's CPU seconds since start. */
  def finish(): Double = {
    running = false; join(); sample()
    lastSeen.synchronized {
      lastSeen.map { case (id, ns) => ns - base.getOrElse(id, 0L) }.sum / 1e9
    }
  }
}
