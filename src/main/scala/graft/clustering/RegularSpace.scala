package graft.clustering

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Trajectories.FeatCol

/** Clustering metrics (reference clustering/_metric.py:6-71 metric
  * registry). A Metric supplies both an executor-side scalar function
  * (regspace / minibatch inner loops) and a codegen Column expression
  * (assignment path). */
trait Metric extends Serializable {
  def name: String
  def dist(x: Array[Double], y: Array[Double]): Double
  /** squared-or-monotone distance column between an array column and a
    * literal center (used for argmin assignment — any monotone transform
    * of the true distance is fine). */
  def distColumn(feat: Column, center: Array[Double]): Column
}

object EuclideanMetric extends Metric {
  val name = "euclidean"
  def dist(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
    math.sqrt(s)
  }
  def distColumn(feat: Column, center: Array[Double]): Column =
    center.indices.map { i =>
      val d = feat.getItem(i) - lit(center(i)); d * d
    }.reduce(_ + _)
}

object ManhattanMetric extends Metric {
  val name = "manhattan"
  def dist(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += math.abs(x(i) - y(i)); i += 1 }
    s
  }
  def distColumn(feat: Column, center: Array[Double]): Column =
    center.indices.map(i => abs(feat.getItem(i) - lit(center(i)))).reduce(_ + _)
}

object ChebyshevMetric extends Metric {
  val name = "chebyshev"
  def dist(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s = math.max(s, math.abs(x(i) - y(i))); i += 1 }
    s
  }
  def distColumn(feat: Column, center: Array[Double]): Column =
    greatest(center.indices.map(i => abs(feat.getItem(i) - lit(center(i)))): _*)
}

/** Name -> Metric registry (the `metrics` object of _metric.py). */
object Metrics {
  private val registry = scala.collection.mutable.Map[String, Metric](
    EuclideanMetric.name -> EuclideanMetric,
    ManhattanMetric.name -> ManhattanMetric,
    ChebyshevMetric.name -> ChebyshevMetric)
  def register(m: Metric): Unit = registry(m.name) = m
  def apply(name: String): Metric =
    registry.getOrElse(name, throw new IllegalArgumentException(
      s"Unknown metric $name, available: ${registry.keys.mkString(", ")}"))
  def available: Seq[String] = registry.keys.toSeq.sorted
}

/** Regular-space clustering (reference clustering/_regspace.py:14-170;
  * Prinz et al. 2011 / Hartigan leader algorithm): greedily admit any point
  * farther than `dmin` from all current centers.
  *
  * Distributed shape: the reference streams data points serially — at
  * 100 TB that's a single-reader bottleneck. Here each PARTITION runs the
  * leader pass locally (bounded output: at most maxCenters candidates per
  * partition), and the driver re-runs the same pass over the concatenated
  * candidate stream. Every surviving pair of centers is > dmin apart
  * (exactly as the reference), and every data point is within 2*dmin of a
  * center (vs dmin for the serial order) — the standard streaming-leader
  * approximation bound; the serial result is itself input-order-dependent,
  * so neither is canonical. */
object RegularSpace {

  def fit(traj: DataFrame, dmin: Double, maxCenters: Int = 1000,
          metric: Metric = EuclideanMetric, featCol: String = FeatCol): ClusterModel = {
    require(dmin >= 0, "dmin must be non-negative")
    require(maxCenters > 0, "maxCenters must be positive")
    val spark = traj.sparkSession
    import spark.implicits._
    val m = metric
    val cap = maxCenters
    val dm = dmin
    val candidates: Array[Array[Double]] = traj
      .select(col(featCol).cast("array<double>"))
      .as[Seq[Double]]
      .mapPartitions { it =>
        val centers = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        it.foreach { xs =>
          if (centers.length < cap) {
            val x = xs.toArray
            var far = true
            var i = 0
            while (i < centers.length && far) {
              if (m.dist(x, centers(i)) < dm) far = false
              i += 1
            }
            if (far) centers += x
          }
        }
        centers.iterator.map(_.toSeq)
      }
      .collect().map(_.toArray)
    // driver merge: same leader pass over candidates
    val centers = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    candidates.foreach { x =>
      if (centers.length < maxCenters &&
          centers.forall(c => metric.dist(x, c) >= dmin)) centers += x
    }
    ClusterModel(centers.toArray)
  }
}

/** Mini-batch k-means (reference clustering/_kmeans.py:474-559
  * MiniBatchKMeans): per-epoch shuffled batches, each batch runs one Lloyd
  * update on the batch only; converged when the batch cost stops moving.
  *
  * Distributed shape: batch membership is a seeded content hash
  * ([[MiniBatchKMeans.inBatch]]); the Lloyd update on a batch is a
  * broadcast-centers map + one tiny aggregation of (sum, count) per
  * center — the full table is never shuffled, and each batch job reduces
  * only k×d sums. The batch CHAIN is inherently sequential (each update
  * needs the previous centers), so each batch is one
  * [[graft.util.Transport]] sweep — driver-local below
  * [[MiniBatchKMeans.LocalBatchThreshold]]. Both legs run the SAME per-row
  * body on the SAME hash-drawn batches, differing only in float summation
  * order. */
object MiniBatchKMeans {

  /** The [[graft.util.Transport]] threshold of the batch chain, in VALUES
    * (rows × dim, ≤ 64 MB of doubles). */
  val LocalBatchThreshold: Long = 8000000L

  /** Deterministic per-(row, batch) Bernoulli membership: an FNV-style
    * content hash of the feature vector mixed with (seed, batch) through
    * a splitmix64 finalizer, mapped to [0, 1) and compared to the batch
    * fraction. RNG-free and partitioning-independent (the Packing
    * integer-hash discipline), so the local and distributed transports
    * draw bit-identical batch sequences. Duplicate feature rows
    * co-select — the usual price of content-keyed sampling, harmless for
    * batch draws. */
  private[clustering] def inBatch(x: Array[Double], seed: Long, batch: Int,
                                  frac: Double): Boolean = {
    var h = seed + 0x632BE59BD9B4E019L * (batch + 1)
    var i = 0
    while (i < x.length) {
      h = (h ^ java.lang.Double.doubleToLongBits(x(i))) * 0x100000001B3L
      i += 1
    }
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^= (h >>> 31)
    ((h >>> 11).toDouble / (1L << 53).toDouble) < frac
  }

  /** One batch's Lloyd statistics over whatever rows `it` yields that
    * land in batch `batch`: (per-center sums, per-center counts, batch
    * cost). The SAME body runs per-partition in the distributed
    * transport and over the collected array in the local one. */
  private[clustering] def batchStats(it: Iterator[Array[Double]],
      cs: Array[Array[Double]], seed: Long, batch: Int, frac: Double)
      : (Array[Array[Double]], Array[Long], Double) = {
    val kk = cs.length
    val d = if (kk > 0) cs(0).length else 0
    val sums = Array.ofDim[Double](kk, d)
    val counts = new Array[Long](kk)
    var cost = 0.0
    it.foreach { x =>
      if (inBatch(x, seed, batch, frac)) {
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < kk) {
          var s = 0.0; var i = 0
          while (i < d) { val t = x(i) - cs(j)(i); s += t * t; i += 1 }
          if (s < bestD) { bestD = s; best = j }
          j += 1
        }
        counts(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += x(i); i += 1 }
        cost += bestD
      }
    }
    (sums, counts, cost)
  }

  def fit(traj: DataFrame, k: Int, batchFraction: Double = 0.1, maxEpochs: Int = 5,
          batchesPerEpoch: Int = 10, tolerance: Double = 1e-5, seed: Long = 42L,
          featCol: String = FeatCol,
          localThreshold: Long = LocalBatchThreshold,
          init: Option[Array[Array[Double]]] = None): ClusterModel = {
    val spark = traj.sparkSession
    import spark.implicits._
    // cache the projected frame ONCE: every mini-batch reads it, and
    // without the cache each sequential batch job re-scans the source
    // (parquet + any upstream window) — the same many-small-jobs
    // pathology that blew up q73 under driver contention.
    val data = traj.select(col(featCol).cast("array<double>").as("x"))
      .as[Array[Double]].cache()
    try {
      // the sizing job fills the cache
      val transport = graft.util.Transport(data, localThreshold,
        LloydKMeans.LocalChunkRows)(_.length.toLong)
        .requireNonEmpty("MiniBatchKMeans.fit", s"feature frame (no $featCol values)")
      // init: a short Lloyd fit, k-means++ seeded, on one batch-sized
      // sample (reference init_strategy kmeans++) — shared by both legs;
      // callers that run fit twice with identical seeding (the q266 parity
      // gate) pass the seed once via `init`
      var centers = init.getOrElse(LloydKMeans.fit(
        data.sample(withReplacement = false, math.min(1.0, batchFraction), seed)
          .select(col("x").as(featCol)), k, maxIter = 5, seed = seed,
        featCol = featCol).centers)
      var lastCost = Double.MaxValue
      var converged = false
      var batch = 0
      val totalBatches = maxEpochs * batchesPerEpoch
      val frac = math.min(1.0, batchFraction)
      while (batch < totalBatches && !converged) {
        val bIdx = batch
        val cs = centers
        val (sums, counts, cost) = transport.sweep(s"MiniBatchKMeans batch $bIdx")(
          batchStats(_, cs, seed, bIdx, frac)) { (a, b) =>
          val (s, c) = LloydKMeans.mergeSums((a._1, a._2), (b._1, b._2))
          (s, c, a._3 + b._3)
        }
        centers = centers.indices.map { j =>
          if (counts(j) > 0) sums(j).map(_ / counts(j)) else centers(j)
        }.toArray
        val relChange = if (cost != 0.0) math.abs(cost - lastCost) / cost else 0.0
        if (relChange <= tolerance) converged = true
        lastCost = cost
        batch += 1
      }
      ClusterModel(centers)
    } finally { data.unpersist(); () }
  }
}
