package graft.tools

/** Round-deliverable plan dumper: writes `explain("formatted")` of the
  * named registry queries into <outDir>/<query>_<suffix>.txt, one session
  * for the whole list.
  *
  * Usage: sbt "runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (the GraftSession core count, as in Bench, so
  *      the plans are the ones the bench actually runs). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, list) = args.take(3)
    val names = list.split(",").map(_.trim).filter(_.nonEmpty)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
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
