package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Canonical time-series data model.
  *
  * Mirrors the reference's universal "(T, d) ndarray trajectory" abstraction
  * (reference: src/deeptime/util/data.py:324, util/types.py:142
  * `ensure_timeseries_data`) as a long-format DataFrame:
  *
  * {{{ (traj_id BIGINT, t BIGINT, features ARRAY<DOUBLE>) }}}
  *
  * Ragged multi-trajectory collections (util/data.py:375-444) are just
  * multiple `traj_id` groups; window functions partitioned by `traj_id`
  * guarantee pairs never cross trajectory boundaries.
  *
  * Scale notes: at 100 TB the trajectory table is parquet partitioned by a
  * hash of `traj_id`; every sequential operator here uses
  * `Window.partitionBy(traj_id).orderBy(t)` which shuffles once by
  * `traj_id` and then streams — no driver materialization anywhere.
  */
object Trajectories {

  val TrajCol = "traj_id"
  val TimeCol = "t"
  val FeatCol = "features"

  /** Read a named testdata table with its [[TableCatalog]] schema, so the
    * read launches no schema-inference job; an undeclared name infers. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    TableCatalog.schemas.get(name).fold(spark.read)(spark.read.schema(_))
      .parquet(s"$dir/$name.parquet")

  /** events table with `ts` normalized to NANOSECONDS-since-epoch as LONG,
    * whatever the physical parquet type of the column:
    *  - TIMESTAMP(NANOS) read as long under `nanosAsLong=true` → identity;
    *  - TIMESTAMP(MICROS/MILLIS, adjustedToUTC) read as TimestampType →
    *    `unix_micros * 1000` (exact; epoch-nanos of 2026 ≈ 1.8e18 < 2^63);
    *  - naive TIMESTAMP read as TIMESTAMP_NTZ → cast through TimestampType
    *    (session timezone must be UTC, matching DuckDB's naive-as-UTC
    *    `epoch_us` semantics).
    * Every ts-arithmetic query goes through here so `ts div 1000` ==
    * DuckDB `epoch_us(ts)` holds regardless of how the driver regenerates
    * the testdata (the r06 record lost 10 queries to exactly this drift). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df
      case TimestampType    => df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType => df.withColumn("ts",
        unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other")
    }
  }

  /** Frame-index window over the ALIASED trajectory column: downstream
    * sequential operators window on `partitionBy(traj_id)`, and because the
    * index window already hash-partitioned by the same attribute, Catalyst
    * reuses that exchange — ONE shuffle for index + lag instead of two
    * (the SURVEY §1.3 materialize-the-frame-index-once rule, applied
    * in-plan). */
  private def wEvents = Window.partitionBy(col(TrajCol)).orderBy(col("ts"), col("event_id"))

  /** events table -> canonical trajectories: one trajectory per user,
    * frame index = arrival order (ties broken by event_id for determinism),
    * d=1 feature = value.
    */
  def fromEvents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("user_id").cast("long").as(TrajCol), col("ts"), col("event_id"),
        array(col("value")).as(FeatCol))
      .select(col(TrajCol),
        (row_number().over(wEvents) - 1).cast("long").as(TimeCol), col(FeatCol))

  /** events -> 1-d raw series (traj_id, t, value) without the array wrapper —
    * convenient for SQL-expressible single-feature operators. */
  def eventSeries(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("user_id").cast("long").as(TrajCol), col("ts"), col("event_id"),
        col("value"))
      .select(col(TrajCol),
        (row_number().over(wEvents) - 1).cast("long").as(TimeCol), col("value"))

  /** lineitem -> d=4 feature trajectories: trajectory per order, frame per
    * line number. Features are scaled to O(1) magnitude so that
    * double-precision moment sums are stable and oracle-comparable
    * (reference float64 policy: covariance/util/_moments.py:1-17).
    */
  def fromLineitem(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(
        col("l_orderkey").as(TrajCol),
        (col("l_linenumber") - 1).cast("long").as(TimeCol),
        array(
          col("l_quantity") / 50.0,
          col("l_extendedprice") / 100000.0,
          col("l_discount"),
          col("l_tax")).as(FeatCol))

  /** Discrete trajectories from events: state = event_type mapped to a
    * stable integer id (alphabetical), the dtraj model of
    * util/types.py:123 / markov/_discrete_states.py. */
  def dtrajFromEvents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("user_id").cast("long").as(TrajCol), col("ts"), col("event_id"),
        eventTypeState(col("event_type")).as("state"))
      .select(col(TrajCol),
        (row_number().over(wEvents) - 1).cast("long").as(TimeCol), col("state"))

  /** Alphabetical event_type -> contiguous int state (deterministic,
    * data-independent so the oracle can replicate it). */
  def eventTypeState(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c === "click", 0)
      .when(c === "error", 1)
      .when(c === "purchase", 2)
      .when(c === "signup", 3)
      .when(c === "view", 4)
      .otherwise(-1)

  /** SQL fragment for the DuckDB oracle replicating eventTypeState. */
  val eventTypeStateSql: String =
    "CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 " +
      "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 WHEN 'view' THEN 4 ELSE -1 END"

  /** Sessionize an event stream: a new session opens when the gap to the
    * user's previous event exceeds `gapMicros`. One window pass (lag for
    * the gap flag + running sum for the session index) partitioned by
    * user — a single shuffle at any scale, the canonical event-pipeline
    * op. `tsMicrosCol` must be an integral microsecond timestamp (the
    * nanos-as-long scans use `ts div 1000`, which matches DuckDB's
    * `epoch_us` truncation). */
  def sessionize(events: DataFrame, gapMicros: Long,
                 userCol: String = "user_id", tsMicrosCol: String = "tsu",
                 tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsMicrosCol), col(tieCol))
    events
      .withColumn("prev_tsu", lag(col(tsMicrosCol), 1).over(w))
      .withColumn("brk",
        when(col("prev_tsu").isNull ||
          col(tsMicrosCol) - col("prev_tsu") > gapMicros, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_tsu", "brk")
  }

  /** Drop rows whose feature array contains NaN or +-Inf (reference
    * covariance/_covariance.py nan-robustness; util/data.py drop_nan
    * semantics). Pure codegen predicate pushed into the scan. */
  def dropNonFinite(traj: DataFrame, featCol: String = FeatCol): DataFrame =
    traj.where(forall(col(featCol), v =>
      !isnan(v) && v =!= Double.PositiveInfinity && v =!= Double.NegativeInfinity))

  /** Project the feature array onto a subset of dimensions (reference
    * covariance `column_selection`; `diag_only` is selectColumns to one dim
    * at a time). */
  def selectColumns(traj: DataFrame, indices: Seq[Int], featCol: String = FeatCol): DataFrame =
    traj.withColumn(featCol, array(indices.map(i => col(featCol).getItem(i)): _*))

  /** Discretize the events value column into `nBins` uniform bins over the
    * global [min, max] — a 1-d BoxDiscretization used as a dtraj source. */
  def dtrajFromEventValues(spark: SparkSession, dir: String, nBins: Int): DataFrame = {
    val ev = eventSeries(spark, dir)
    val Array(mn, mx) = ev.agg(min("value"), max("value")).collect()(0) match {
      case r => Array(r.getDouble(0), r.getDouble(1))
    }
    val width = (mx - mn) / nBins
    ev.select(col(TrajCol), col(TimeCol),
      least(floor((col("value") - mn) / width), lit(nBins - 1)).cast("int").as("state"))
  }

  /** One-hot encoding of a discrete state column over n states
    * (reference clustering/_box.py:30 `BoxDiscretizationModel
    * .transform_onehot`): ARRAY<DOUBLE> of length n with 1.0 at the
    * state index, 0.0 elsewhere (all-zero for out-of-range states).
    * Pure codegen column expression — no UDF, stays in whole-stage
    * codegen wherever the downstream basis/covariance pipeline uses it. */
  def onehot(state: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    array((0 until n).map(i => when(state === i, 1.0).otherwise(0.0)): _*)
}
