package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_RELIABLE=true runs the WHOLE oracle battery with
    // Materialize's reliable-checkpoint path engaged (the preemptible-
    // cluster configuration): every frozen frame goes through a real fs
    // checkpoint instead of localCheckpoint, so the flag's end-to-end
    // correctness is oracle-gated, not just MaterializeSpec's frame-
    // identity pin. Checkpoint dir: $SPARK_GRAFT_CHECKPOINT_DIR or a
    // temp dir (an HDFS/object-store path on a real cluster).
    val reliable = sys.env.get("SPARK_GRAFT_RELIABLE").exists {
      case v if Set("true", "1", "yes")(v.toLowerCase) => true
      case v if Set("false", "0", "no")(v.toLowerCase) => false
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_RELIABLE='$other' — expected true/false (or 1/0, yes/no)")
    }
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long (used only
      // for ordering, where long-of-nanos sorts identically)
      .config(graft.util.Materialize.ReliableConfKey, reliable.toString)
      // GC'd frozen frames must release their reliable-checkpoint files
      // (ADVICE r13: a 265-query battery otherwise accumulates one
      // checkpoint per frozen frame for the whole run); core conf, so
      // it must be set BEFORE context creation
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirrors the Bench session's AQE setting so Verify executes the
      // same plans the bench times — Spark default restored in r18
      // (VERDICT r17 item 1; rationale in Bench.scala)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (reliable) {
      val explicit = sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      val ckpt = explicit.getOrElse(
        Files.createTempDirectory("graft_ckpt").toString)
      spark.sparkContext.setCheckpointDir(ckpt)
      // the context cleaner (cleanCheckpoints=true, set in the builder)
      // removes GC'd frames' checkpoint files during the run; an
      // AUTO-CREATED temp dir is additionally deleted outright on
      // shutdown (an explicit dir is the caller's to manage)
      if (explicit.isEmpty) sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(ckpt))
      }
      System.err.println(s"[verify] reliable-checkpoint mode: dir=$ckpt")
    }
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for fast targeted local checks
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // a failed query must be LOUD and visible in the record: r06 silently
    // lost 10 queries to caught AnalysisExceptions (events.ts type drift).
    // Each failure is retried once (transient-error insurance) and then
    // recorded in _verify_errors.json next to the result dirs.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // release each query's frozen frames once its parquet is written
    // (VERDICT r16 task 2): the full 268-query battery runs in ONE JVM
    // against 29 Materialize.frozen sites — without eager unfreeze the
    // localCheckpoint blocks accumulate until the GC ContextCleaner gets
    // to them, the 8 GiB-driver OOM class AuditBattery already fixed.
    // SPARK_GRAFT_MUTATION_SMOKE=<query>: the oracle-gate meta-check
    // (VERDICT r16 task 5) — deliberately corrupt ONE query's output
    // (first numeric column + 1) so tools/mutation_smoke.py can assert
    // the DuckDB compare actually goes RED on a wrong answer. The whole
    // verdict chain leans on that compare; this proves the gate has
    // teeth instead of assuming it. Debug-only: loud on stderr, never
    // set by the driver.
    val mutate = sys.env.get("SPARK_GRAFT_MUTATION_SMOKE")
    def perturb(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.types._
      val c = df.schema.fields.collectFirst {
        case f if Set[DataType](DoubleType, FloatType, LongType, IntegerType)(f.dataType) => f.name
      }.getOrElse(throw new IllegalStateException(
        "mutation smoke needs a numeric column to perturb"))
      df.withColumn(c, org.apache.spark.sql.functions.col(c) + 1)
    }
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        def attempt(): Unit = {
          val df = fn(spark, sfDir)
          val out = if (mutate.contains(name)) {
            System.err.println(s"[verify] MUTATION SMOKE: perturbing $name " +
              "(first numeric column + 1) — this dump is NOT a correctness record")
            perturb(df)
          } else df
          out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          try graft.util.Materialize.unfreeze(df) catch { case _: Throwable => () }
        }
        try attempt()
        catch { case e1: Throwable =>
          System.err.println(s"[verify] $name failed (${e1.getClass.getSimpleName}: " +
            s"${e1.getMessage}); retrying once")
          try attempt()
          catch { case e2: Throwable =>
            val msg = s"${e2.getClass.getName}: ${String.valueOf(e2.getMessage).take(500)}"
            System.err.println(s"[verify] $name FAILED PERMANENTLY: $msg")
            errors(name) = msg
          }
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} PERMANENT FAILURES: " +
        errors.keys.mkString(", "))
    // heap ledger line (VERDICT r16 task 2's done condition): the
    // battery's driver-heap high-water mark, recorded per run so the
    // localCheckpoint-accumulation class has a trend line
    System.err.println(s"[verify] driver heap peak: " +
      s"${graft.util.HeapStat.fmt(graft.util.HeapStat.peakGiB)} GiB " +
      s"(max ${Runtime.getRuntime.maxMemory / (1L << 30)} GiB)")
    spark.stop()
  }
}
