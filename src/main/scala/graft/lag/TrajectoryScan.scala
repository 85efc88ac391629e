package graft.lag

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecutionRDD, SparkPlan}
import org.apache.spark.sql.functions.col
import graft.core.Trajectories.{TrajCol, TimeCol}

/** The one per-trajectory scan (reference `TransitionCountEstimator` and
  * `timeshifted_split` stream each trajectory once): the frame is projected
  * to (traj_id LONG, t, the caller's columns), shuffled once by `traj_id`
  * and sorted by (traj_id, t) within each partition; a kernel walks each
  * partition in that order, and one tagged `treeAggregate` merges the
  * per-partition accumulators, all in one Spark job. So the driver receives
  * one accumulator per partition, whatever the input size. The count
  * kernels of `EffectiveCounts`, `GaussianHmm.initialGuessGmm` and
  * `Validation.multiLagCounts` run on it. */
object TrajectoryScan {

  /** Folds `df` into one `A`; each partition starts from its own `zero`.
    * `step(acc, row, first)` sees every frame in (traj_id, t) order, with
    * traj_id at 0, t at 1 and `valueCols` from 2 on; `first` marks a
    * trajectory's first frame, and rows with a null traj_id form one
    * trajectory. The job carries the description `desc`. */
  def fold[A: ClassTag](df: DataFrame, valueCols: Seq[Column], desc: String)(zero: => A)(
      step: (A, InternalRow, Boolean) => Unit)(merge: (A, A) => A): A = {
    val spark = df.sparkSession
    graft.util.JobTag.withDescription(spark.sparkContext, desc) {
      new SQLExecutionRDD(plan(df, valueCols).execute(), spark.sessionState.conf).mapPartitions { rows =>
        val acc = zero
        var first = true
        var curNull = false
        var cur = 0L
        while (rows.hasNext) {
          val r = rows.next()
          val idNull = r.isNullAt(0)
          val id = if (idNull) 0L else r.getLong(0)
          step(acc, r, first || idNull != curNull || id != cur)
          first = false; curNull = idNull; cur = id
        }
        Iterator.single(acc)
      }.treeAggregate(zero)(merge, merge)
    }
  }

  /** The scan's physical plan, prepared without adaptive execution, which
    * would run the shuffle as a job of its own. */
  private[graft] def plan(df: DataFrame, valueCols: Seq[Column]): SparkPlan = {
    val qe = df.select(col(TrajCol).cast("long") +: col(TimeCol) +: valueCols: _*)
      .repartition(col(TrajCol))
      .sortWithinPartitions(TrajCol, TimeCol)
      .queryExecution
    QueryExecution.prepareExecutedPlan(qe.sparkSession, qe.sparkPlan)
  }

  /** The last `lags.max` states of the current trajectory: the ring-and-
    * pair step of the state-pair kernels. A negative state is a blank: it
    * holds its place but pairs with nothing. */
  final class StateRing(lags: Array[Int]) extends Serializable {
    require(lags.nonEmpty && lags.forall(_ > 0), "lags must be positive")
    private val depth = lags.max
    private val ring = new Array[Int](depth)
    private var pos = 0L

    def restart(): Unit = pos = 0L

    /** The number of states pushed since the last restart. */
    def length: Long = pos

    /** Appends state `x`; unless it is blank, calls `pair(i, s0)` for every
      * `lags(i)` whose predecessor s0 lies in this trajectory, not blank. */
    def push(x: Int)(pair: (Int, Int) => Unit): Unit = {
      if (x >= 0) {
        var i = 0
        while (i < lags.length) {
          if (pos >= lags(i)) {
            val s0 = ring(((pos - lags(i)) % depth).toInt)
            if (s0 >= 0) pair(i, s0)
          }
          i += 1
        }
      }
      ring((pos % depth).toInt) = x
      pos += 1
    }
  }

  /** Adds `n` to cell `k` of a sparse count map. One-element arrays serve
    * as mutable cells, so an increment is one probe. */
  def addCount(m: mutable.LongMap[Array[Long]], k: Long, n: Long): Unit =
    m.getOrElseUpdate(k, new Array[Long](1))(0) += n

  def addCounts(into: mutable.LongMap[Array[Long]], from: mutable.LongMap[Array[Long]]): Unit =
    from.foreachEntry((k, n) => addCount(into, k, n(0)))
}
