package graft.tools

import org.apache.spark.sql.SparkSession

/** Round-deliverable plan dumper: writes `explain("formatted")` of the
  * named registry queries into <outDir>/<query>_<suffix>.txt, one session
  * for the whole list.
  *
  * Usage: sbt "runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32 — match the bench session so the
  *      plans are the ones the bench actually runs). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, list) = args.take(3)
    val names = list.split(",").map(_.trim).filter(_.nonEmpty)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirror the Bench session's AQE setting (ADVICE r17: the dumped
      // plans must come from the same config the bench runs under)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      // queryExecution.explainString is explain("formatted") as a String
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
