package graft.util

import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import graft.lag.TrajectoryScan.Sequence

/** The size-dispatched transport of the iterative fits (Baum-Welch and
  * Bayesian HMM sampling, Lloyd and mini-batch k-means): each sweep of such
  * a fit is one full pass over the data that yields small sufficient
  * statistics, and the fit runs tens to hundreds of sweeps in sequence.
  *
  * The data is sized once (one job, which also fills the caller's
  * persisted data). At or below `threshold` it is collected once and
  * every sweep runs driver-local: `stats` over fixed chunks of `unit`
  * items in parallel ([[Par.mapOrdered]]), merged SEQUENTIALLY in item
  * order. A cluster-wide job per sweep costs more than the arithmetic at
  * these sizes, and the fixed chunking and merge order make the result
  * the same bits for any core count; data of at most `unit` items runs
  * `stats` once over all of them. Above the threshold every sweep is ONE
  * job tagged with its description (the scale audits pick sweep jobs out
  * by it): `stats` per non-empty partition, then `reduce(merge)`, so only
  * the statistics leave the executors. The two legs differ only in the
  * float merge order of the statistics, which the distributed leg never
  * fixed (its reduce merges partitions as they finish).
  *
  * Caching belongs to the caller: a Transport never caches or unpersists
  * its data. `size` is the data's total weight (the item count for
  * [[Transport.local]]). */
final class Transport[T] private (
    val size: Long,
    leg: Either[IndexedSeq[T], RDD[T]],
    unit: Int) {

  /** One sweep: `stats` over the data, the partial statistics merged. */
  def sweep[S: ClassTag](desc: String)(stats: Iterator[T] => S)(merge: (S, S) => S): S =
    leg match {
      case Left(xs) if xs.length <= unit => stats(xs.iterator)
      case Left(xs) =>
        Par.mapOrdered(0 until xs.length by unit) { s =>
          stats((s until math.min(s + unit, xs.length)).iterator.map(xs))
        }.reduce(merge)
      case Right(rdd) =>
        JobTag.withDescription(rdd.sparkContext, desc) {
          rdd.mapPartitions(it =>
            if (it.hasNext) Iterator.single(stats(it)) else Iterator.empty)
            .reduce(merge)
        }
    }

  /** The local leg's items, in sweep order; None on the distributed leg. */
  def localItems: Option[IndexedSeq[T]] = leg.left.toOption

  /** Raises `op`'s non-empty precondition when the data weighs nothing. */
  def requireNonEmpty(op: String, what: String): this.type = {
    if (size == 0) throw new IllegalArgumentException(s"$op: requires a non-empty $what")
    this
  }
}

object Transport {

  /** Items in partition order, `weight` summed for the dispatch. */
  def apply[T](data: Dataset[T], threshold: Long, unit: Int)(weight: T => Long): Transport[T] =
    build(data.rdd, threshold, unit, weight, identity[Array[T]])

  /** Trajectories as [[graft.lag.TrajectoryScan]] hands them out, one per
    * `stats` call, weighed by their frame count; the local leg runs them
    * in id order. */
  def byId[V](data: RDD[Sequence[V]], threshold: Long): Transport[Sequence[V]] =
    build(data, threshold, 1, (s: Sequence[V]) => s._2.length.toLong,
      (arr: Array[Sequence[V]]) => arr.sortBy(_._1))

  /** The local leg over items the caller already holds. */
  def local[T](items: IndexedSeq[T], unit: Int): Transport[T] =
    new Transport(items.length.toLong, Left(items), unit)

  private def build[T](rdd: RDD[T], threshold: Long, unit: Int,
                       weight: T => Long, order: Array[T] => Array[T]): Transport[T] = {
    val size = rdd.map(weight).fold(0L)(_ + _)
    val leg =
      if (size <= threshold)
        Left(scala.collection.immutable.ArraySeq.unsafeWrapArray(order(rdd.collect())))
      else Right(rdd)
    new Transport(size, leg, unit)
  }
}
