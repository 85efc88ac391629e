package graft.lag

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import org.apache.spark.storage.StorageLevel
import graft.core.Trajectories.{TrajCol, TimeCol}
import graft.util.{JobTag, PreparedPlan}

/** The one per-trajectory scan (reference `TransitionCountEstimator` and
  * `timeshifted_split` stream each trajectory once): the frame is projected
  * to (traj_id LONG, t LONG, the caller's columns), shuffled once by
  * `traj_id` and sorted by (traj_id, t) within each partition, SURVEY
  * §1.1's trajectory-table layout. Its plan is prepared without adaptive
  * execution ([[graft.util.PreparedPlan]]), so a scan is one Spark job.
  * Two walks share that plan and its boundary rule. [[fold]] runs a kernel
  * over each partition and merges the per-partition accumulators with one
  * tagged `treeAggregate`, so the driver receives one accumulator per
  * partition whatever the input size; the count kernels of
  * `EffectiveCounts`, `GaussianHmm.initialGuessGmm` and
  * `Validation.multiLagCounts` and the kernel methods' landmark draw run
  * on it. [[states]], [[values]] and [[vectors]] hand out each trajectory
  * whole, in t order: every HMM fit, sampler and decoder, q73 and
  * `Diff.tvDerivativeFrame` group their trajectories through them.
  * [[layout]] keeps the layout: the session's shared trajectory tables
  * (`QShared.liTraj`, `QShared.dtrajEv`) are persisted in it once, and
  * every scan and `partitionBy(traj_id).orderBy(t)` window over them then
  * shuffles and sorts nothing. */
object TrajectoryScan {

  /** One trajectory: its id, its t values and its values, in t order. */
  type Sequence[V] = (Long, Array[Long], Array[V])

  /** Folds `df` into one `A`; each partition starts from its own `zero`.
    * `step(acc, row, first)` sees every frame in (traj_id, t) order, with
    * traj_id at 0, t at 1 and `valueCols` from 2 on; `first` marks a
    * trajectory's first frame, and rows with a null traj_id form one
    * trajectory. The job carries the description `desc`. */
  def fold[A: ClassTag](df: DataFrame, valueCols: Seq[Column], desc: String)(zero: => A)(
      step: (A, InternalRow, Boolean) => Unit)(merge: (A, A) => A): A = {
    JobTag.withDescription(df.sparkSession.sparkContext, desc) {
      scan(df, valueCols).mapPartitions { rows =>
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

  /** The state sequences of `df`'s `state` column (cast to INT). */
  def states(df: DataFrame, op: String): RDD[Sequence[Int]] =
    sequences(df, "state", IntegerType, op)(_.getInt(2))

  /** The value sequences of `df`'s `valueCol` (cast to DOUBLE). */
  def values(df: DataFrame, valueCol: String, op: String): RDD[Sequence[Double]] =
    sequences(df, valueCol, DoubleType, op)(_.getDouble(2))

  /** The vector sequences of `df`'s `featCol` (cast to ARRAY<DOUBLE>). */
  def vectors(df: DataFrame, featCol: String, op: String): RDD[Sequence[Array[Double]]] =
    sequences(df, featCol, ArrayType(DoubleType), op)(_.getArray(2).toDoubleArray())

  /** Each trajectory of `df` whole: the scan's rows walked in (traj_id, t)
    * order, one [[Sequence]] per run of equal traj_ids, `read` taking the
    * value at ordinal 2 of `valueCol` cast to `as`. Lazy: the caller runs
    * (and persists) the RDD. A null traj_id, t or value raises an
    * IllegalArgumentException naming `op` and the column, where the typed
    * read would see 0. */
  private def sequences[V: ClassTag](df: DataFrame, valueCol: String, as: DataType, op: String)(
      read: InternalRow => V): RDD[Sequence[V]] =
    scan(df, Seq(col(valueCol).cast(as))).mapPartitions { it =>
      val rows = it.buffered
      def key(r: InternalRow): Long = {
        if (r.anyNull) {
          val name = Seq(TrajCol, TimeCol, valueCol)((0 to 2).find(r.isNullAt).get)
          throw new IllegalArgumentException(
            s"$op: requires non-null $TrajCol, $TimeCol and $valueCol values (got a null $name)")
        }
        r.getLong(0)
      }
      new Iterator[Sequence[V]] {
        def hasNext: Boolean = rows.hasNext
        def next(): Sequence[V] = {
          val id = key(rows.head)
          val ts = Array.newBuilder[Long]
          val vs = Array.newBuilder[V]
          while (rows.hasNext && key(rows.head) == id) {
            val r = rows.next()
            ts += r.getLong(1); vs += read(r)
          }
          (id, ts.result(), vs.result())
        }
      }
    }

  /** `df` laid out once for every later scan and window: its rows are
    * projected, shuffled and sorted as [[plan]] does (traj_id and t first,
    * then the other columns in order), persisted by one tagged job, and
    * handed back as a frame whose plan declares that layout,
    * hash-partitioned by traj_id and ordered by (traj_id, t). A
    * [[fold]], a [[states]] grouping or a `partitionBy(traj_id)
    * .orderBy(t)` window over it then plans no exchange and no sort. The
    * persisted rows keep their lineage (a lost block is recomputed from
    * `df`), which is only sound when `df`'s plan is deterministic. */
  def layout(df: DataFrame, op: String): DataFrame = {
    require(df.queryExecution.analyzed.deterministic,
      s"$op: a laid-out frame is recomputed from its lineage, so its plan must be deterministic")
    val ds = scanFrame(df, df.columns.toSeq.filterNot(Set(TrajCol, TimeCol)).map(col))
    val p = PreparedPlan(ds)
    val rows = PreparedPlan.rows(ds, p).map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    JobTag.withDescription(df.sparkSession.sparkContext, s"$op layout") { rows.count() }
    GraftExpressionBridge.laidOut(df.sparkSession, rows, p, ds.queryExecution.optimizedPlan.stats)
  }

  /** The scan's rows: [[plan]] executed, outside any SQL execution. */
  private def scan(df: DataFrame, valueCols: Seq[Column]): RDD[InternalRow] = {
    val ds = scanFrame(df, valueCols)
    PreparedPlan.rows(ds, PreparedPlan(ds))
  }

  /** The scan's physical plan, prepared without adaptive execution, which
    * would run the shuffle as a job of its own. */
  private[graft] def plan(df: DataFrame, valueCols: Seq[Column]): SparkPlan =
    PreparedPlan(scanFrame(df, valueCols))

  /** (traj_id LONG, t LONG, `valueCols`), hash-partitioned by traj_id and
    * sorted by (traj_id, t) within each partition. */
  private def scanFrame(df: DataFrame, valueCols: Seq[Column]): DataFrame =
    df.select(col(TrajCol).cast("long") +: col(TimeCol).cast("long") +: valueCols: _*)
      .repartition(col(TrajCol))
      .sortWithinPartitions(TrajCol, TimeCol)

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
