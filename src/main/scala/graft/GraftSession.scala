package graft

import org.apache.spark.sql.SparkSession

/** The one way this engine builds a SparkSession: Bench, Verify, the
  * tools and the specs all get the same settings, and every session
  * carries [[graft.functions.GraftExtensions]]. `newSession()` inherits
  * the extensions, so no session derived from these lacks them.
  *
  * perfbench's `Harness` builds its session by hand with the same list;
  * `GraftSessionSpec` pins the two together. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, otherwise the cores this JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every session setting, for a `local[cpus]` master. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet's ts was TIMESTAMP(NANOS) in early testdata; read it
    // as a long (Trajectories.events normalizes every ts type to nanos)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Spark-default AQE coalescing (restored in r18): the r17
    // parallelismFirst=false coalesced every KB-sized shuffle to ONE
    // task, serializing post-shuffle stages on a 32-core box — the
    // full-protocol record regressed 43% raw and 8 cores beat 32.
    // parallelismFirst only changes behavior when shuffle bytes /
    // advisory size < core count, i.e. at bench SFs; at 100 TB both
    // settings coalesce to the same advisory-sized partitions. The r18
    // full-sweep A/B/A (plans/r18/) was config-neutral at sf0.1 once
    // normalized by the canary drift (false 184.7 s @ drift 1.16 vs true
    // 221.0 s @ drift 1.43), and the default keeps reduce-stage
    // parallelism for 8-vs-32-core scaling runs. The env knob stays for
    // byte-sized-partition experiments.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
      sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))

  /** A session with [[settings]] plus the caller's `extra` pairs, which
    * are applied last. */
  def apply(cpus: Int = GraftSession.cpus,
            extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = (settings(cpus) ++ extra).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }
    val spark = builder.withExtensions(new graft.functions.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
