package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: it measures and records, and `run.py` reduces
  * the records to metrics.
  *
  * `run` builds one session, warms it up on a statement that is not a
  * registry query, then runs one pass per query order in the plan, one
  * query at a time from one thread (a closed loop with one client). The
  * passes share one fresh `newSession()`, so the per-session memo frames
  * are built inside the first timed pass, as every user session builds
  * them, and later passes find them built. Each query is timed in three
  * phases through public calls: construction `fn(spark, dir)`, planning
  * `queryExecution.executedPlan`, and execution of the full output (see
  * [[Digest]]). A second clock runs around each
  * query's whole slot (its phases, the release of its frozen frames and
  * its record) and around each pass, so time spent outside the phases
  * shows. In a traced run every pass but the last carries a [[Probe]]
  * listener and a [[ParCpuSampler]]; the last repeats the order of the
  * one before it untraced, as the base the tracing overhead is measured
  * against.
  *
  * `generate` runs named registry queries once each, each in a fresh
  * session so that it fills its own memo frames, and records their row
  * counts, digests, families and Spark jobs, optionally writing each
  * output as parquet for the DuckDB cross-check.
  *
  * Records stay in memory and are written as JSON lines when the process
  * is done, so no file I/O lands inside a timed window. */
object Harness {
  private val mx = ManagementFactory.getThreadMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // ---------------------------------------------------------------- records
  private val records = mutable.ArrayBuffer.empty[String]

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def emit(fields: (String, Any)*): Unit =
    records += fields.map { case (k, v) =>
      q(k) + ":" + (v match {
        case s: String => q(s)
        case d: Double => num(d)
        case b: Boolean => b.toString
        case n: Int => n.toString
        case n: Long => n.toString
        case None => "null"
        case Some(x: String) => q(x)
        case other => q(String.valueOf(other))
      })
    }.mkString("{", ",", "}")

  private def flush(path: String): Unit =
    Files.write(Paths.get(path), records.asJava, UTF_8)

  // ----------------------------------------------------------- host probes
  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Resident-set high-water mark of this process, MiB. */
  private def rssHwmMiB(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  // ---------------------------------------------------------------- session
  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One scan and aggregate of the testdata through the same full-output
    * path the queries take. It is not a registry query: the JIT and
    * codegen cost the workload's own queries pay in a fresh process stays
    * in the first timed pass, where the pass median sets it aside. */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    Digest.run(spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").agg(sum("l_quantity"), count(lit(1))))
  }

  // ------------------------------------------------------------------ query
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  /** Runs one registry query through its three phases; run.py compares
    * the output against the expected values. Returns the DataFrame (null
    * when construction threw), for release, and the query's record. */
  private def runQuery(spark: SparkSession, dir: String, name: String, pass: Int,
                       timeoutS: Double, family: String = ""): (DataFrame, Seq[(String, Any)]) = {
    @volatile var timedOut = false
    val guard = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut = true; spark.sparkContext.cancelAllJobs() }
    }, (timeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
    var df: DataFrame = null
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val cpu0 = mx.getCurrentThreadCpuTime
    var t1, t2, t3 = t0
    var ms1, ms2 = ms0
    var cpu1 = cpu0
    var result: Option[Digest.Result] = None
    var error: Option[String] = None
    try {
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"$name is not in the registry"))
      df = fn(spark, dir)
      t1 = System.nanoTime(); ms1 = System.currentTimeMillis(); cpu1 = mx.getCurrentThreadCpuTime
      df.queryExecution.executedPlan
      t2 = System.nanoTime(); ms2 = System.currentTimeMillis()
      result = Some(Digest.run(df))
      t3 = System.nanoTime()
    } catch {
      case e: Throwable =>
        t3 = System.nanoTime()
        error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally guard.cancel(false)
    val ms3 = System.currentTimeMillis()
    if (timedOut) error = Some(s"timed out after $timeoutS s")
    error.foreach(e => System.err.println(s"[perfbench] $name FAILED: $e"))
    val rec = Seq[(String, Any)]("type" -> "query", "pass" -> pass, "name" -> name, "family" -> family,
      "error" -> error, "rows" -> result.map(_.rows).getOrElse(-1L),
      "digest" -> result.map(_.hex).getOrElse(""),
      "construct_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9,
      "latency_s" -> (t3 - t0) / 1e9, "construct_cpu_s" -> (cpu1 - cpu0) / 1e9,
      "start_ms" -> ms0, "construct_end_ms" -> ms1, "plan_end_ms" -> ms2, "end_ms" -> ms3)
    (df, rec)
  }

  /** Releases a query's frozen frames outside its timed window. */
  private def release(df: DataFrame): Unit =
    if (df != null) try graft.util.Materialize.unfreeze(df) catch { case _: Throwable => () }

  // -------------------------------------------------------------------- run
  private def runMode(kv: Map[String, String]): Unit = {
    val root = kv("root")
    val dir = s"$root/perfbench/data/sf0.1"
    val cores = kv("cores").toInt
    val traced = kv("trace") == "1"
    val timeoutS = kv("timeout").toDouble
    val launchMs = kv("launchMs").toLong
    val orders = readOrders(kv("plan"))

    val base = session(cores, kv("work"))
    val sessionMs = System.currentTimeMillis()
    warmUp(base, dir)
    val readyMs = System.currentTimeMillis()
    emit("type" -> "setup", "setup_s" -> (readyMs - launchMs) / 1e3,
      "session_s" -> (sessionMs - launchMs) / 1e3, "warmup_s" -> (readyMs - sessionMs) / 1e3,
      "cores" -> cores)

    val sc = base.sparkContext
    val spark = base.newSession()
    for (p <- orders.indices) {
      val tracePass = traced && p < orders.size - 1
      val probe = if (tracePass) Some(new Probe) else None
      val sampler = if (tracePass) Some(new ParCpuSampler) else None
      probe.foreach(sc.addSparkListener)
      sampler.foreach(_.start())
      heapPools.foreach(_.resetPeakUsage())
      val (steal0, total0) = cpuJiffies()
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcSeconds()
      val wall0 = System.nanoTime()
      orders(p).foreach { name =>
        val slot0 = System.nanoTime()
        val (df, rec) = runQuery(spark, dir, name, p, timeoutS)
        release(df)
        emit(rec :+ ("slot_s" -> (System.nanoTime() - slot0) / 1e9): _*)
      }
      val wall = (System.nanoTime() - wall0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val gc = gcSeconds() - gc0
      val (steal1, total1) = cpuJiffies()
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / math.pow(2, 30)
      val parCpu = sampler.map(_.finish())
      probe.foreach { pr =>
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(pr)
        pr.jobs.asScala.foreach { j =>
          emit("type" -> "job", "pass" -> p, "id" -> j.id, "start_ms" -> j.startMs,
            "end_ms" -> j.endMs, "call_site" -> j.callSite, "streaming" -> j.streaming)
        }
      }
      val totals = probe.map { pr =>
        Seq("stages" -> pr.stages, "tasks" -> pr.tasks, "task_failures" -> pr.taskFailures,
          "executor_run_s" -> pr.runMs / 1e3, "executor_cpu_s" -> pr.cpuNs / 1e9,
          "shuffle_write_bytes" -> pr.shuffleWrite, "shuffle_read_bytes" -> pr.shuffleRead,
          "spill_bytes" -> pr.spill, "input_bytes" -> pr.input, "result_bytes" -> pr.resultBytes)
      }.getOrElse(Nil)
      emit(Seq[(String, Any)]("type" -> "pass", "pass" -> p, "traced" -> tracePass,
        "wall_s" -> wall, "cpu_s" -> cpu, "gc_s" -> gc,
        "steal_frac" -> (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0),
        "heap_peak_gib" -> heapPeak, "par_cpu_s" -> parCpu.getOrElse(-1.0)) ++ totals: _*)
    }
    emit("type" -> "end", "peak_rss_mib" -> rssHwmMiB(), "passes" -> orders.size)
    stop(base)
    flush(kv("out"))
  }

  /** The plan file holds one line per pass: that pass's query order,
    * comma-separated. */
  private def readOrders(path: String): IndexedSeq[Seq[String]] = {
    val orders = Files.readAllLines(Paths.get(path), UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(",").toSeq).toIndexedSeq
    require(orders.nonEmpty, s"plan $path has no query order")
    orders
  }

  /** Stops streaming queries and the state-store maintenance task before
    * the context, so no shutdown stack trace races the exit. */
  private def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(s => try s.stop() catch { case _: Throwable => () })
    try {
      val cls = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("stop").invoke(cls.getField("MODULE$").get(null))
    } catch { case _: Throwable => () }
    spark.stop()
  }

  // --------------------------------------------------------------- generate
  private def generateMode(kv: Map[String, String]): Unit = {
    import graft.queries._
    val families = Seq(
      "Core" -> CoreQueries, "Markov" -> MarkovQueries, "MarkovBatteries" -> MarkovBatteryQueries,
      "Decomposition" -> DecompositionQueries, "Text" -> TextQueries, "Dedup" -> DedupQueries,
      "Similarity" -> SimilarityQueries, "Pipeline" -> PipelineQueries, "Event" -> EventQueries,
      "Streaming" -> StreamingQueries, "Multimodal" -> MultimodalQueries)
    val familyOf = families.flatMap { case (f, fam) => fam.queries.map(_._1 -> f) }.toMap
    val root = kv("root")
    val dir = s"$root/perfbench/data/sf0.1"
    val names = kv.get("names").filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(familyOf.keys.toSeq.sorted)
    val dump = kv.get("dump").filter(_.nonEmpty)
    val base = session(kv("cores").toInt, kv("work"))
    warmUp(base, dir)
    val probe = new Probe
    base.sparkContext.addSparkListener(probe)
    names.foreach { name =>
      val (df, rec) = runQuery(base.newSession(), dir, name, 0, kv("timeout").toDouble,
        familyOf.getOrElse(name, "unknown"))
      emit(rec: _*)
      dump.foreach { d =>
        if (df != null) try df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
        catch { case e: Throwable => System.err.println(s"[perfbench] dump $name: $e") }
      }
      release(df)
    }
    org.apache.spark.perfbench.Bus.drain(base.sparkContext)
    probe.jobs.asScala.foreach { j =>
      emit("type" -> "job", "pass" -> 0, "id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "call_site" -> j.callSite, "streaming" -> j.streaming)
    }
    graft.SparkEntry.oracleSql.foreach { case (n, sql) =>
      emit("type" -> "oracle", "name" -> n, "sql" -> sql)
    }
    stop(base)
    flush(kv("out"))
  }

  // --------------------------------------------------------------- selftest
  /** The digest ignores row order and partitioning and the last bits of a
    * double, and sees any other change. Exits non-zero on a failure. */
  private def selftestMode(kv: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions._
    val spark = session(2, kv("work"))
    import spark.implicits._
    val base = Seq((1L, 0.1 + 0.2, "a", Seq(1.0, 2.0), Map("k" -> 1)),
      (2L, -0.0, null, Seq.empty[Double], Map.empty[String, Int]),
      (3L, 1e300, "c", Seq(Double.NaN), Map("x" -> 2, "y" -> 3)))
    val df = base.toDF("id", "x", "s", "arr", "m")
    val d0 = Digest.run(df)
    val checks = Seq(
      "row order and partitioning" ->
        (Digest.run(df.repartition(3).orderBy(desc("id"))) == d0),
      "last bits of a double" ->
        (Digest.run(df.withColumn("x", col("x") * (1.0 + 1e-15))) == d0),
      "minus zero" -> (Digest.run(df.withColumn("x",
        when(col("id") === 2, lit(0.0)).otherwise(col("x")))) == d0),
      "a changed value" -> (Digest.run(df.withColumn("x",
        when(col("id") === 1, lit(0.3001)).otherwise(col("x")))) != d0),
      "a changed string" -> (Digest.run(df.withColumn("s",
        when(col("id") === 1, lit("b")).otherwise(col("s")))) != d0),
      "a dropped row" -> (Digest.run(df.where(col("id") =!= 3)) != d0),
      "a duplicated row" -> (Digest.run(df.union(df.where(col("id") === 1))) != d0),
      "a renamed column" -> (Digest.run(df.withColumnRenamed("id", "key")) == d0),
      "swapped columns" -> (Digest.run(df.select("x", "id", "s", "arr", "m")) != d0),
      "a changed array element" -> (Digest.run(df.withColumn("arr",
        when(col("id") === 1, typedLit(Seq(2.0, 1.0))).otherwise(col("arr")))) != d0),
      "map entry order" -> (Digest.run(df.withColumn("m",
        when(col("id") === 3, typedLit(Map("y" -> 3, "x" -> 2))).otherwise(col("m")))) == d0))
    stop(spark)
    checks.foreach { case (what, ok) =>
      System.err.println(s"[perfbench] digest ${if (ok) "ok  " else "FAIL"} $what")
    }
    println(s"digest row count ${d0.rows}")
    if (d0.rows != 3 || checks.exists(!_._2)) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    args.headOption match {
      case Some("run") => runMode(kv)
      case Some("generate") => generateMode(kv)
      case Some("selftest") => selftestMode(kv)
      case other => sys.error(s"unknown mode $other (run | generate | selftest)")
    }
  }
}
