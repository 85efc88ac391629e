package graft.io

import graft.SparkSpec
import graft.sources.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Partitioned and bucketed sinks: pruning and shuffle-free joins are
  * properties of the LAYOUT, asserted on the read-back plans. */
class SinksSpec extends SparkSpec with Matchers {

  test("partitionBy sink prunes the re-scan to the filtered directory") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, if (i % 3 == 0) "a" else "b", i * 0.5))
      .toDF("id", "kind", "v")
    val path = Sinks.writePartitioned(df, "spec_part", "specsrc", "kind")
    val back = spark.read.parquet(path).where(col("kind") === "a")
    back.queryExecution.executedPlan.toString should include("PartitionFilters")
    // the EXECUTED scan's selected partitions — inputFiles lists the whole
    // relation pre-pruning and must not be used for this
    val scans = back.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    scans should have size 1
    val files = scans.head.selectedPartitions.toPartitionArray
      .map(_.filePath.toString)
    files should not be empty
    all(files) should include("kind=a")
    back.count() shouldBe 334
    // answer is layout-invariant
    back.agg(sum("v")).collect()(0).getDouble(0) shouldBe
      df.where(col("kind") === "a").agg(sum("v")).collect()(0).getDouble(0)
  }

  test("bucketed tables join with zero exchanges") {
    import spark.implicits._
    val l = (0 until 500).map(i => (i.toLong % 50, i.toLong)).toDF("k", "lv")
      .groupBy("k").agg(count(lit(1)).as("ln"))
    val r = (0 until 300).map(i => (i.toLong % 50, i.toLong)).toDF("k", "rv")
      .groupBy("k").agg(count(lit(1)).as("rn"))
    val tl = Sinks.writeBucketed(l, "spec_l", "specsrc", "k", 4)
    val tr = Sinks.writeBucketed(r, "spec_r", "specsrc", "k", 4)
    val joined = spark.table(tl).join(spark.table(tr).hint("merge"), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should include("SortMergeJoin")
    joined.count() shouldBe 50
  }

  test("sink overwrite is idempotent and scratch paths are per-source") {
    import spark.implicits._
    val df = Seq((1L, "x", 1.0)).toDF("id", "kind", "v")
    val p1 = Sinks.writePartitioned(df, "spec_idem", "srcA", "kind")
    val p2 = Sinks.writePartitioned(df, "spec_idem", "srcA", "kind")
    p1 shouldBe p2
    spark.read.parquet(p1).count() shouldBe 1
    Sinks.scratchPath("spec_idem", "srcB") should not be p1
  }

  test("scratch paths live in this process's own directory, which deleteProcessSinks removes") {
    import spark.implicits._
    val pid = ProcessHandle.current().pid()
    Sinks.processRoot.getName shouldBe s"graft-sink-$pid"
    val other = new java.io.File(Sinks.processRoot.getParentFile, s"graft-sink-${pid + 1}-spec")
    other.mkdirs()
    try {
      val path = Sinks.writePartitioned(Seq((1L, "x")).toDF("id", "kind"), "spec_pid", "srcA", "kind")
      new java.io.File(path).getParentFile shouldBe Sinks.processRoot
      Sinks.deleteProcessSinks()
      new java.io.File(path).exists() shouldBe false
      Sinks.processRoot.exists() shouldBe false
      other.exists() shouldBe true
    } finally { other.delete(); () }
  }
}
