package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-shape assertions for the documented scale claims:
  * q107 (WindowGroupLimit pushdown bounds the pre-shuffle exchange),
  * q114 (ONE exchange serves both window frames), q109 (hash equi-join,
  * no nested loop), q108 (single exchange, no join operator), broadcast /
  * pushdown / pruning claims for the SQL and ANN families. Fails loud on
  * any mismatch so a Spark upgrade that silently changes a plan gets
  * caught.
  *
  * The claims run over PRE-execution plan strings (the AQE-wrapped
  * initial plan), which is where static shapes (join strategy, pushed
  * filters, exchange counts) are visible — the post-execution
  * `ResultQueryStageExec` vacuous-pass trap (ScaleAudit round 9) does not
  * apply to this path. `PlanChecksSpec` runs the same claims under
  * `sbt test` so a regression fails CI, not just a manually-run tool;
  * the spec additionally re-checks the join-free/cartesian-free claims
  * POST-execution through `ScaleAudit.allPlanNodes`. */
object PlanChecks {

  /** query-name -> (claim description, predicate over the plan string).
    * The special `pqTopK` entry is keyed "q165 pqTopK" and handled by
    * `plans`. */
  val claims: Seq[(String, Seq[(String, String => Boolean)])] = Seq(
    "q107_source_quality_cap" -> Seq(
      ("WindowGroupLimit pushdown present", _.contains("WindowGroupLimit")),
      ("no cartesian", !_.contains("CartesianProduct"))),
    "q114_rolling_features" -> Seq(
      ("exactly one exchange (shared by both frames)",
        p => "Exchange".r.findAllIn(p).length == 1),
      ("single Window covers all frames or reuses the partitioning",
        p => !p.contains("Exchange hashpartitioning") ||
          "Exchange hashpartitioning".r.findAllIn(p).length == 1)),
    "q109_range_join" -> Seq(
      ("no BroadcastNestedLoopJoin", !_.contains("BroadcastNestedLoopJoin")),
      ("no cartesian", !_.contains("CartesianProduct"))),
    "q108_asof_join" -> Seq(
      ("no join operator at all", p => !p.contains("Join"))),
    "q121_asof_forward" -> Seq(
      ("no join operator at all", p => !p.contains("Join"))),
    "q117_tfidf_topk" -> Seq(
      ("WindowGroupLimit pushdown present", _.contains("WindowGroupLimit")),
      ("df table broadcast, not shuffled", _.contains("BroadcastHashJoin"))),
    "q124_inverted_index" -> Seq(
      ("WindowGroupLimit pushdown present", _.contains("WindowGroupLimit"))),
    "q119_embedding_outliers" -> Seq(
      ("WindowGroupLimit pushdown present", _.contains("WindowGroupLimit")),
      ("centroid broadcast, not shuffled", _.contains("BroadcastHashJoin")),
      ("no cartesian", !_.contains("CartesianProduct"))),
    "q182_sql_q3" -> Seq(
      ("dim side broadcast", _.contains("BroadcastHashJoin")),
      ("mktsegment filter pushed to the customer scan",
        _.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")),
      ("no cartesian", !_.contains("CartesianProduct"))),
    "q183_sql_q5" -> Seq(
      ("dims broadcast", p => "BroadcastHashJoin".r.findAllIn(p).length >= 3),
      ("region filter pushed to the region scan",
        _.contains("EqualTo(r_name,ASIA)")),
      ("no cartesian", !_.contains("CartesianProduct"))),
    "q201_random_projection" -> Seq(
      ("no exchange at all — projection stays at the scan",
        p => !p.contains("Exchange")),
      ("no cartesian", !_.contains("CartesianProduct"))),
    "q213_knn_classify" -> Seq(
      ("probe slice broadcast (bounded nested loop by construction)",
        _.contains("BroadcastNestedLoop")),
      ("no cartesian", !_.contains("CartesianProduct"))),
    "q215_runtime_filter" -> Seq(
      ("runtime bloom filter injected into the fact scan",
        _.contains("might_contain")),
      ("shuffle join path exercised", p =>
        p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))),
    "q214_partition_pruning" -> Seq(
      ("day filter reaches the scan as a partition filter",
        p => p.contains("PartitionFilters") && p.contains("day#") &&
          p.contains("19725")),
      ("no cartesian", !_.contains("CartesianProduct"))),
    "q245_tram_overlap" -> Seq(
      ("overlap self-join is a hash equi-join on the markov state", p =>
        p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
          p.contains("BroadcastHashJoin")),
      ("no cartesian", !_.contains("CartesianProduct")),
      ("no nested loop", !_.contains("BroadcastNestedLoop"))),
    // q165's registered query returns the battery frame, so audit the ANN
    // plan itself: the shortlist rank filter must push map-side
    "q165 pqTopK" -> Seq(
      ("WindowGroupLimit pushdown present", _.contains("WindowGroupLimit")),
      ("no cartesian", !_.contains("CartesianProduct"))))

  /** The pre-execution plan string each claim group runs against. */
  def planOf(spark: SparkSession, dir: String, name: String): String = {
    val df =
      if (name == "q165 pqTopK") {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.where(org.apache.spark.sql.functions.col("vec_id") % 40 === 0)
        graft.similarity.Similarity.pqTopK(emb, q, k = 5, dim = 64,
          m = 8, ksub = 64, shortlist = 48, seed = 42L)
      } else graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  /** Evaluate every claim; returns (query, description, ok). */
  def run(spark: SparkSession, dir: String): Seq[(String, String, Boolean)] =
    claims.flatMap { case (name, as) =>
      val plan = planOf(spark, dir, name)
      as.map { case (desc, p) => (name, desc, p(plan)) }
    }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession()
    val results = run(spark, dir)
    results.foreach { case (name, desc, ok) =>
      println(s"[plan] $name :: $desc -> ${if (ok) "OK" else "FAIL"}")
    }
    val failed = results.count(!_._3)
    if (failed > 0) { println(s"[plan] $failed FAILED"); sys.exit(1) }
    println("[plan] ALL PLAN CLAIMS HOLD")
    spark.stop()
  }
}
