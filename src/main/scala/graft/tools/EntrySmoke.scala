package graft.tools

/** Dev smoke runner: executes SparkEntry.entry exactly as the driver's
  * smoke-check does (rows > 0) and prints a sample + the physical plan. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(5, truncate = false)
    df.explain("formatted")
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
