package graft.clustering

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Trajectories.FeatCol

/** Box (uniform grid) discretization — reference clustering/_box.py:51-101.
  * Pure SQL: per-dimension floor binning + linearized cell index; fully
  * codegen'd, zero custom code at execution time. */
object BoxDiscretization {

  case class BoxModel(v0: Array[Double], v1: Array[Double], nBins: Array[Int]) {
    val d: Int = v0.length

    /** Linearized cell index column for a features array. */
    def assignColumn(feat: Column): Column = {
      // per-dim bin: clamp to [0, n-1]; linearize row-major
      val bins = (0 until d).map { i =>
        val width = (v1(i) - v0(i)) / nBins(i)
        least(greatest(floor((feat.getItem(i) - lit(v0(i))) / lit(width)), lit(0.0)),
          lit((nBins(i) - 1).toDouble)).cast("int")
      }
      bins.zipWithIndex.map { case (b, i) =>
        val mult = nBins.drop(i + 1).product
        b * lit(mult)
      }.reduce(_ + _)
    }
  }

  /** Fit = one min/max aggregate per dimension (single cheap job). */
  def fit(traj: DataFrame, nBins: Array[Int], featCol: String = FeatCol): BoxModel = {
    val d = nBins.length
    val aggs = (0 until d).flatMap(i =>
      Seq(min(col(featCol).getItem(i)).as(s"mn$i"), max(col(featCol).getItem(i)).as(s"mx$i")))
    val r = traj.agg(aggs.head, aggs.tail: _*).collect()(0)
    if (r.isNullAt(0)) throw new IllegalArgumentException(
      s"BoxDiscretization.fit: requires a non-empty feature frame (no $featCol values)")
    val v0 = Array.tabulate(d)(i => r.getDouble(2 * i))
    val v1 = Array.tabulate(d)(i => r.getDouble(2 * i + 1))
    BoxModel(v0, v1, nBins)
  }

  def transform(traj: DataFrame, m: BoxModel, featCol: String = FeatCol): DataFrame =
    traj.withColumn("state", m.assignColumn(col(featCol)))
}

/** Cluster model + nearest-center assignment
  * (reference clustering/_cluster_model.py:101; kmeans_bits.h assignment
  * loop). Assignment is a broadcast-centers argmin expressed with plain
  * column arithmetic for small k*d (codegen), falling back to a UDF for
  * larger models. */
case class ClusterModel(centers: Array[Array[Double]]) {
  val k: Int = centers.length
  val d: Int = if (k > 0) centers(0).length else 0

  def assignColumn(feat: Column): Column = {
    if (k * d <= 256) {
      // codegen-friendly: explicit argmin over k squared distances
      val dists = centers.map { c =>
        (0 until d).map(i => {
          val diff = feat.getItem(i) - lit(c(i))
          diff * diff
        }).reduce(_ + _)
      }
      // argmin via struct sort: array of (dist, idx), array_min, extract idx
      val pairs = dists.zipWithIndex.map { case (dc, i) =>
        struct(dc.as("dist"), lit(i).as("idx"))
      }
      array_min(array(pairs: _*)).getField("idx")
    } else {
      val cs = centers
      val f = udf { (x: Seq[Double]) =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < cs.length) {
          var s = 0.0; var i = 0
          while (i < x.length) { val t = x(i) - cs(j)(i); s += t * t; i += 1 }
          if (s < bestD) { bestD = s; best = j }
          j += 1
        }
        best
      }
      f(feat)
    }
  }

  def transform(traj: DataFrame, featCol: String = FeatCol): DataFrame =
    traj.withColumn("state", assignColumn(col(featCol)))

  /** Metric-pluggable assignment (reference _cluster_model.py:101 honors
    * the model's metric): argmin over `metric.distColumn`, codegen like the
    * euclidean path. */
  def assignColumn(feat: Column, metric: Metric): Column = {
    val pairs = centers.zipWithIndex.map { case (c, i) =>
      struct(metric.distColumn(feat, c).as("dist"), lit(i).as("idx"))
    }
    array_min(array(pairs: _*)).getField("idx")
  }

  def transformMetric(traj: DataFrame, metric: Metric,
                      featCol: String = FeatCol): DataFrame =
    traj.withColumn("state", assignColumn(col(featCol), metric))
}

/** The one k-means++ seeder (reference clustering/_kmeans.py exports
  * `kmeans_plusplus`): greedy D^2-weighted selection on the driver, the
  * variant sklearn's `kmeans_plusplus` uses — each step draws 2 + ln(k)
  * candidates by D^2 and keeps the one that lowers the summed D^2 most,
  * so a step rarely lands a second seed in an already covered cluster
  * (ScaleAudit cluster100 failed with one draw per step). [[seed]]
  * draws its rows from a deterministic hash-sampled row cap: seeding
  * quality needs a representative sample, not the corpus, so the 100 TB
  * contract is the same row-capped landmark rule as the kernel methods.
  * [[seedRows]] is the same selection over rows the caller already holds
  * (the PQ sub-codebooks). */
object KMeansPlusPlus {
  /** The default row cap of [[seed]]. */
  val SampleRows: Long = 65536L

  def seed(traj: DataFrame, k: Int, seedVal: Long = 42L,
           maxSampleRows: Long = SampleRows, featCol: String = FeatCol): Array[Array[Double]] = {
    require(k > 0, "k must be positive")
    val rows = graft.util.Sampling.rowCap(traj, maxSampleRows, seedVal)
      .select(col(featCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    if (rows.isEmpty) throw new IllegalArgumentException(
      s"KMeansPlusPlus.seed: requires a non-empty feature frame (no $featCol rows)")
    seedRows(rows, k, seedVal)
  }

  /** Up to `k` seeds drawn from the non-empty `rows`, in the order given.
    * Fewer than `k` come back when the rows hold fewer distinct points. */
  def seedRows(rows: Array[Array[Double]], k: Int, seedVal: Long): Array[Array[Double]] = {
    require(k > 0, "k must be positive")
    val rnd = new java.util.Random(seedVal)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val trials = 2 + math.log(k).toInt
    val centers = scala.collection.mutable.ArrayBuffer(rows(rnd.nextInt(rows.length)))
    val minD2 = rows.map(d2(_, centers(0)))
    var exhausted = false
    while (centers.length < math.min(k, rows.length) && !exhausted) {
      val total = minD2.sum
      if (total <= 0) {
        // every remaining point coincides with an existing center: drawing
        // more would only duplicate centers — stop at the distinct-point
        // count (mirrors the reference, which cannot pick a zero-D^2 point)
        exhausted = true
      } else {
        // greedy step: keep the candidate that lowers the summed D^2 most
        var best: Array[Double] = null
        var bestD2: Array[Double] = null
        var bestSum = Double.PositiveInfinity
        var t = 0
        while (t < trials) {
          var r = rnd.nextDouble() * total
          var i = 0
          while (i < rows.length - 1 && r >= minD2(i)) { r -= minD2(i); i += 1 }
          val c = rows(i)
          val next = Array.tabulate(rows.length)(j => math.min(minD2(j), d2(rows(j), c)))
          val sum = next.sum
          if (best == null || sum < bestSum) { best = c; bestD2 = next; bestSum = sum }
          t += 1
        }
        centers += best
        System.arraycopy(bestD2, 0, minD2, 0, rows.length)
      }
    }
    centers.toArray
  }
}

/** The 1-d k-means fits: the exact histogram Lloyd of the quantized
  * 1-d measurements (reference clustering/_kmeans.py), with
  * [[LloydKMeans]] above its distinct-value cap. */
object KMeans {
  /** Exact Lloyd fixed point for 1-d features via distinct-value
    * pre-aggregation (reference clustering/_kmeans.py Lloyd loop; the
    * histogram trick is the standard low-dimensional scale path — BIRCH /
    * grid k-means family): [[valueHistogram]] compresses the corpus to its
    * distinct values in one aggregation, and [[fitHistogram]] runs the
    * weighted Lloyd iteration on (value, count) on the driver. Because
    * every row EQUALS its value, that iteration makes the IDENTICAL
    * assignment and mean-update decisions as full-data Lloyd — the fixed
    * point reached is exactly the full-data fixed point, at driver cost
    * instead of one full scan per iteration. At 100 TB a quantized 1-d
    * measurement has bounded distinct values; above `maxDistinct` of them
    * the fit is [[LloydKMeans.fit]] with the same `k`, `seed` and
    * `maxIter`, to [[LargeTol]]. */
  def fit1dExact(traj: DataFrame, k: Int, seed: Long = 42L,
                 maxIter: Int = 500, maxDistinct: Int = 1 << 20,
                 featCol: String = FeatCol): ClusterModel = {
    val hist = valueHistogram(traj, maxDistinct, featCol)
    if (hist.length > maxDistinct)
      LloydKMeans.fit(traj, k, maxIter = maxIter, tol = LargeTol, seed = seed, featCol = featCol)
    else {
      requireValues(hist, "KMeans.fit1dExact", s"feature frame (no $featCol rows)")
      fitHistogram(hist, k, seed, maxIter)
    }
  }

  /** The center-movement tolerance of a 1-d fit above the distinct-value
    * cap: tight, since the histogram fit below the cap runs to the exact
    * fixed point. */
  private[graft] val LargeTol = 1e-9

  /** The (value, count) histogram of the first feature, in the order the
    * aggregation returns it (that order seeds [[fitHistogram]]'s
    * k-means++). At most `cap + 1` entries are collected, so a result
    * longer than `cap` means the frame has more than `cap` distinct
    * values. One aggregation job. */
  def valueHistogram(traj: DataFrame, cap: Int,
                     featCol: String = FeatCol): Array[(Double, Long)] =
    traj.groupBy(col(featCol).getItem(0).as("v")).count()
      .limit(cap + 1).collect()
      .map(r => (r.getDouble(0), r.getLong(1)))

  /** Raises `op`'s non-empty precondition on an empty histogram. */
  private[graft] def requireValues(hist: Array[(Double, Long)], op: String,
                                   what: String): Unit =
    if (hist.isEmpty) throw new IllegalArgumentException(s"$op: requires a non-empty $what")

  /** Weighted k-means++ seeding and Lloyd to the exact fixed point over a
    * [[valueHistogram]], on the driver (no Spark job). */
  def fitHistogram(hist: Array[(Double, Long)], k: Int, seed: Long = 42L,
                   maxIter: Int = 500): ClusterModel = {
    requireValues(hist, "KMeans.fitHistogram", "value histogram")
    val values = hist.map(_._1)
    val weights = hist.map(_._2.toDouble)
    val n = values.length
    // weighted k-means++ seeding (D^2 * weight mass), deterministic
    val rnd = new java.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer(values(rnd.nextInt(n)))
    val minD2 = Array.tabulate(n)(i => { val d = values(i) - centers(0); d * d * weights(i) })
    while (centers.length < math.min(k, n)) {
      val total = minD2.sum
      if (total <= 0) {
        // all remaining mass sits on existing centers
        centers ++= values.filterNot(centers.contains).take(k - centers.length)
      } else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < n - 1 && r >= minD2(i)) { r -= minD2(i); i += 1 }
        val c = values(i)
        centers += c
        var j = 0
        while (j < n) {
          val d = values(j) - c
          minD2(j) = math.min(minD2(j), d * d * weights(j)); j += 1
        }
      }
    }
    var cs = centers.toArray.sorted
    // Lloyd to the exact fixed point: stop when centers stop moving (the
    // assignment is then provably stable too)
    var iter = 0
    var moved = true
    val assign = new Array[Int](n)
    while (iter < maxIter && moved) {
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < cs.length) {
          val d = math.abs(values(i) - cs(j))
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = new Array[Double](cs.length)
      val cnts = new Array[Double](cs.length)
      i = 0
      while (i < n) {
        sums(assign(i)) += values(i) * weights(i)
        cnts(assign(i)) += weights(i)
        i += 1
      }
      val next = Array.tabulate(cs.length)(j =>
        if (cnts(j) > 0) sums(j) / cnts(j) else cs(j))
      moved = !java.util.Arrays.equals(next, cs)
      cs = next
      iter += 1
    }
    ClusterModel(cs.map(Array(_)))
  }
}

/** The one Lloyd k-means: k-means++ seeding ([[KMeansPlusPlus]]) and a
  * metric-pluggable Lloyd loop (reference clustering/_kmeans.py:148-473 +
  * metric.h registry: the metric drives ASSIGNMENT; the center update is
  * the arithmetic mean of assigned points, exactly as kmeans_bits.h's
  * cluster_loop). Every k-means of the engine fits through it, except
  * the weighted 1-d [[KMeans.fitHistogram]]. Distributed shape per SURVEY
  * §2.7: centers in the task closure, per-partition partial (sum, count)
  * accumulators, a single reduce per iteration — the data is never
  * shuffled and nothing but k*(d+1) doubles crosses the network. */
object LloydKMeans {

  /** The [[graft.util.Transport]] threshold of the Lloyd loop, in VALUES
    * (rows × dim, ≤ 64 MB of doubles): callers pass ≤65k-row capped
    * samples by contract (semDedup/IVF/PQ), which run driver-local;
    * full-corpus fits run one job per iteration with k×(d+1)-double
    * reduces (q267 gates the parity of the two). */
  val LocalLloydThreshold: Long = 8000000L

  /** Rows per local-leg chunk of the k-means transports: fixed, so the
    * chunked merge is the same for any core count; arrays of at most one
    * chunk take the single sequential pass. */
  private[graft] val LocalChunkRows = 32768

  /** Per-center (sums, counts) merge of [[iterStats]] partials. */
  private[clustering] def mergeSums(a: (Array[Array[Double]], Array[Long]),
      b: (Array[Array[Double]], Array[Long])): (Array[Array[Double]], Array[Long]) =
    (a._1.zip(b._1).map { case (ra, rb) => Array.tabulate(ra.length)(i => ra(i) + rb(i)) },
      a._2.zip(b._2).map(t => t._1 + t._2))

  /** One Lloyd iteration's statistics over `it`: per-center (sums,
    * counts) under `m`-metric assignment. The SAME body runs
    * per-partition in the distributed transport and over the collected
    * array in the local one. */
  private[clustering] def iterStats(it: Iterator[Array[Double]],
      cs: Array[Array[Double]], m: Metric): (Array[Array[Double]], Array[Long]) = {
    val kk = cs.length
    val d = if (kk > 0) cs(0).length else 0
    val sums = Array.ofDim[Double](kk, d)
    val counts = new Array[Long](kk)
    it.foreach { x =>
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < kk) {
        val dist = m.dist(x, cs(j))
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      counts(best) += 1
      var i = 0
      while (i < d) { sums(best)(i) += x(i); i += 1 }
    }
    (sums, counts)
  }

  /** A row's weight in values. A NaN or infinite value is rejected here,
    * in the sizing pass, because one such row would turn its center, and
    * from there every assignment, into NaN. */
  private def finiteLength(x: Array[Double]): Long = {
    var i = 0
    while (i < x.length) {
      if (!java.lang.Double.isFinite(x(i)))
        throw new IllegalArgumentException(
          "LloydKMeans.fit: requires finite feature values (got NaN or Infinity)")
      i += 1
    }
    x.length.toLong
  }

  def fit(traj: DataFrame, k: Int, metric: Metric = EuclideanMetric,
          maxIter: Int = 50, tol: Double = 1e-6, seed: Long = 42L,
          featCol: String = FeatCol,
          localThreshold: Long = LocalLloydThreshold,
          init: Option[Array[Array[Double]]] = None): ClusterModel = {
    require(k > 0, "k must be positive")
    val spark = traj.sparkSession
    import spark.implicits._
    // persist the training frame across the Lloyd iterations: every
    // iteration is one pass over `data`, and without the persist each of
    // them (plus the seeder's count + sample) re-ran the caller's whole
    // input pipeline — scan + unit-normalize per iteration (q99/q171
    // measured the fit at ~4x its data cost on exactly that). Callers
    // pass capped samples by contract, so the footprint is bounded.
    val data = traj.select(col(featCol).cast("array<double>")).as[Array[Double]]
      .persist()
    try {
      // the sizing job fills the cache, so the seeder below reads cached
      // partitions
      val transport = graft.util.Transport(data, localThreshold, LocalChunkRows)(finiteLength)
        .requireNonEmpty("LloydKMeans.fit", s"feature frame (no $featCol values)")
      // seeding is shared by both legs; callers that run fit twice with
      // identical seeding (the q267 parity gate) pass the seed once via
      // `init`. A local leg of at most SampleRows rows holds the rows the
      // seeder's row cap would collect, in the same order, so it seeds
      // from them without another job.
      val centers = init.getOrElse(transport.localItems match {
        case Some(rows) if rows.length <= KMeansPlusPlus.SampleRows =>
          KMeansPlusPlus.seedRows(rows.toArray, k, seed)
        case _ => KMeansPlusPlus.seed(data.toDF(featCol), k, seed, featCol = featCol)
      })
      ClusterModel(iterate(transport, centers, metric, maxIter, tol))
    } finally data.unpersist()
  }

  /** The Lloyd loop from `init` over `transport`: at most `maxIter`
    * sweeps, until no center moves by more than `tol` under `metric`. A
    * center that no row picks stays where it is. */
  def iterate(transport: graft.util.Transport[Array[Double]], init: Array[Array[Double]],
              metric: Metric = EuclideanMetric, maxIter: Int = 50,
              tol: Double = 1e-6): Array[Array[Double]] = {
    var centers = init
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val cs = centers
      val (sums, counts) = transport.sweep(s"LloydKMeans iteration $iter")(
        iterStats(_, cs, metric))(mergeSums)
      val next = centers.indices.map { j =>
        if (counts(j) > 0) sums(j).map(_ / counts(j)) else centers(j)
      }.toArray
      moved = centers.indices.map(j => metric.dist(centers(j), next(j))).max
      centers = next
      iter += 1
    }
    centers
  }
}
