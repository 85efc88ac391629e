package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.lag.TrajectoryScan.Sequence
import TransportSpec._

/** The iterative-fit transport: the local leg is the plain sequential
  * chunked fold (bit for bit), the distributed leg agrees with it up to
  * float merge order and runs one tagged job per sweep, and the caller's
  * cache is left alone. */
class TransportSpec extends SparkSpec with Matchers {

  /** Seeded ragged trajectories with ids in shuffled order, values over
    * several magnitudes so any reassociation of the sums shows. */
  private def items(n: Int, seed: Long): Seq[(Long, Array[Double])] = {
    val rng = new scala.util.Random(seed)
    rng.shuffle((0 until n).map(_.toLong)).map { id =>
      id -> Array.fill(1 + rng.nextInt(20))(rng.nextGaussian() * math.pow(10, rng.nextInt(8)))
    }
  }

  /** Two slices, one EMPTY partition, two more slices. */
  private def frame(xs: Seq[(Long, Array[Double])]): Dataset[(Long, Array[Double])] = {
    import spark.implicits._
    val (a, b) = xs.splitAt(xs.length / 2)
    spark.createDataset(sc.parallelize(a, 2)
      .union(sc.parallelize(Seq.empty[(Long, Array[Double])], 1))
      .union(sc.parallelize(b, 2)))
  }

  /** The items as [[graft.lag.TrajectoryScan]] sequences, t = 0, 1, ... */
  private def sequences(ds: Dataset[(Long, Array[Double])]): RDD[Sequence[Double]] =
    ds.rdd.map { case (id, xs) => (id, Array.tabulate(xs.length)(_.toLong), xs) }

  /** The local leg's definition, written as a plain sequential loop. */
  private def fold(xs: Seq[(Long, Array[Double])], unit: Int): Array[Double] =
    xs.grouped(unit).map(c => stats(c.iterator)).reduceLeft(merge)

  private def bits(a: Array[Double]) = a.toSeq.map(java.lang.Double.doubleToLongBits)

  test("the local leg equals the sequential chunked fold bit for bit") {
    val xs = items(97, 11L)
    val ds = frame(xs).cache()
    try {
      ds.rdd.mapPartitions(it => Iterator(it.size)).collect() should contain(0)
      val byId = Transport.byId(sequences(ds), Long.MaxValue)
      byId.size shouldBe xs.map(_._2.length.toLong).sum
      bits(byId.sweep("unused")(seqStats)(merge)) shouldBe bits(fold(xs.sortBy(_._1), 1))
      // partition order, chunks below the item count (the last one short)
      val inOrder = ds.collect().toSeq
      for (unit <- Seq(1, 10, 97, 1000)) {
        val t = Transport(ds, Long.MaxValue, unit)(_._2.length.toLong)
        bits(t.sweep("unused")(stats)(merge)) shouldBe bits(fold(inOrder, unit))
        bits(Transport.local(inOrder.toIndexedSeq, unit).sweep("unused")(stats)(merge)) shouldBe
          bits(fold(inOrder, unit))
      }
    } finally ds.unpersist()
  }

  test("the two legs agree, for many items and for a single one") {
    for (n <- Seq(97, 1)) {
      val xs = items(n, 13L + n)
      val ds = frame(xs).cache()
      try {
        for (unit <- Seq(1, 10)) {
          val loc = Transport(ds, Long.MaxValue, unit)(_._2.length.toLong)
            .sweep("unused")(stats)(merge)
          val dist = Transport(ds, 0L, unit)(_._2.length.toLong)
            .sweep("TransportSpec agree")(stats)(merge)
          loc(2) shouldBe dist(2)
          // Σx may cancel: bound its error by the magnitude of the terms
          val scale = math.sqrt(loc(1) * loc(2))
          loc.zip(dist).foreach { case (p, q) => p shouldBe q +- 1e-9 * (math.abs(p) + scale) }
        }
      } finally ds.unpersist()
    }
  }

  test("the distributed leg runs one tagged job per sweep and leaves the cache") {
    val ds = sequences(frame(items(97, 17L))).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val t = Transport.byId(ds, 0L)
      val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          descs.add(Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      }
      sc.addSparkListener(listener)
      try (0 until 3).foreach(i => t.sweep(s"TransportSpec sweep $i")(seqStats)(merge))
      finally {
        org.apache.spark.sql.GraftExpressionBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
      descs.toArray.toSeq shouldBe (0 until 3).map(i => s"TransportSpec sweep $i")
      ds.getStorageLevel shouldBe StorageLevel.MEMORY_AND_DISK
      Transport.byId(ds, Long.MaxValue).sweep("unused")(seqStats)(merge)
      ds.getStorageLevel shouldBe StorageLevel.MEMORY_AND_DISK
    } finally ds.unpersist()
  }
}

object TransportSpec {
  // (Σx, Σx², values) of one trajectory; merge adds. Kept off the spec
  // class so the distributed leg's closures do not capture it.
  def one(t: (Long, Array[Double])): Array[Double] =
    Array(t._2.sum, t._2.map(v => v * v).sum, t._2.length.toDouble)
  def merge(x: Array[Double], y: Array[Double]): Array[Double] =
    Array.tabulate(3)(i => x(i) + y(i))
  def stats(it: Iterator[(Long, Array[Double])]): Array[Double] =
    it.map(one).reduce(merge)
  def seqStats(it: Iterator[Sequence[Double]]): Array[Double] =
    stats(it.map(s => (s._1, s._3)))
}
