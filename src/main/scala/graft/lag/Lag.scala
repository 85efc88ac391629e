package graft.lag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Trajectories.{TrajCol, TimeCol, FeatCol}

/** Time-lagged pairing — the reference's one "join": (X_t, X_{t+tau}).
  *
  * Reference: `timeshifted_split` (src/deeptime/util/data.py:55-152) and
  * `TrajectoryDataset` slicing `traj[:-tau] / traj[tau:]` (util/data.py:338).
  *
  * Spark-first design: this is NOT a self-join. A `lead(features, tau)` over
  * `Window.partitionBy(traj_id).orderBy(t)` produces the pair columns with a
  * single shuffle by `traj_id` (and zero shuffles when the table is already
  * hash-distributed by traj_id and ordered by t, e.g. laid out by
  * `TrajectoryScan.layout` or bucketed at ingest). At 100 TB this is
  * the difference between one exchange and a full shuffle join of the table
  * with itself.
  */
object Lag {

  private def w = Window.partitionBy(TrajCol).orderBy(TimeCol)

  /** (x, y=x_{t+tau}) pair frame; rows without a lagged partner dropped —
    * semantics of traj[:-tau] vs traj[tau:]. */
  def pairs(traj: DataFrame, tau: Int): DataFrame =
    traj
      .withColumn("x", col(FeatCol))
      .withColumn("y", lead(FeatCol, tau).over(w))
      .where(col("y").isNotNull)
      .drop(FeatCol)

  /** Lagged pairs of an arbitrary value column (e.g. discrete state). */
  def pairsOf(traj: DataFrame, valueCol: String, tau: Int): DataFrame =
    traj
      .withColumn("s0", col(valueCol))
      .withColumn("s1", lead(valueCol, tau).over(w))
      .where(col("s1").isNotNull)

  /** Strided subsampling after lag-shift (util/data.py:70,120-124;
    * markov/_util.py:108 `lag_observations`): keep every `stride`-th frame
    * of each trajectory. */
  def strided(traj: DataFrame, stride: Int): DataFrame =
    traj.where((col(TimeCol) % stride) === 0)

  /** Central finite difference d/dt of a numeric column over uniform unit
    * grid (reference util/diff.py finite differences): (x_{t+1}-x_{t-1})/2.
    * Endpoints use one-sided first-order differences. */
  def centralDifference(traj: DataFrame, valueCol: String, h: Double = 1.0): DataFrame = {
    val prev = lag(col(valueCol), 1).over(w)
    val next = lead(col(valueCol), 1).over(w)
    traj.withColumn("deriv",
      when(prev.isNull && next.isNull, lit(null))
        .when(prev.isNull, (next - col(valueCol)) / h)
        .when(next.isNull, (col(valueCol) - prev) / h)
        .otherwise((next - prev) / (2.0 * h)))
  }

  /** Tumbling block windows of size `blocksize` per trajectory
    * (decomposition/_score.py:156-203 `blocksplit_trajs`): adds `block`. */
  def blocks(traj: DataFrame, blocksize: Int): DataFrame =
    traj.withColumn("block", (col(TimeCol) / blocksize).cast("long"))

  /** Sliding radius window gather (util/data.py:11 `sliding_window`):
    * collect_list of the value over [-radius, +radius] frames. */
  def radiusWindow(traj: DataFrame, valueCol: String, radius: Int): DataFrame =
    traj.withColumn("window",
      collect_list(col(valueCol)).over(w.rowsBetween(-radius, radius)))
}
