package graft.markov

import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import graft.lag.TrajectoryScan
import graft.lag.TrajectoryScan.{addCount, addCounts}

/** Model validation workflows (reference util/validation.py:8
  * `implied_timescales`, :196 `ck_test`; markov/_observables.py:9
  * `MembershipsObservable`).
  *
  * Scale design: an ITS/CK scan needs count matrices at a GRID of lagtimes.
  * Estimating them one lag at a time re-reads the trajectory table once per
  * lag — at 100 TB that is the whole job cost multiplied by the grid size.
  * [[multiLagCounts]] instead counts every lag in one
  * [[graft.lag.TrajectoryScan]]: its kernel keeps a ring of the last
  * max(lags) states per trajectory and sparse (lag, s0, s1) counts, so the
  * one shuffle is the scan's traj_id hash and at most |lags| * n^2 cells
  * per partition reach the driver regardless of input size.
  */
object Validation {

  /** The multi-lag grid kernel, merged over partitions: per lag, sparse
    * (s0, s1) counts keyed s0 << 32 | s1, and each state's frame count. */
  private final class LagGrid(val lags: Array[Int]) extends Serializable {
    val pairs = Array.fill(lags.length)(new mutable.LongMap[Array[Long]])
    val visits = new mutable.LongMap[Array[Long]]
    @transient private lazy val ring = new TrajectoryScan.StateRing(lags)

    def frame(r: InternalRow, first: Boolean): Unit = {
      if (first) ring.restart()
      val x = if (r.isNullAt(2)) -1 else r.getInt(2)
      if (x >= 0) addCount(visits, x, 1L)
      ring.push(x)((i, s0) => addCount(pairs(i), s0.toLong << 32 | x, 1L))
    }

    def merge(o: LagGrid): LagGrid = {
      pairs.indices.foreach(i => addCounts(pairs(i), o.pairs(i)))
      addCounts(visits, o.visits)
      this
    }

    /** (lag, s0, s1, count) of every observed pair. */
    def cells: Seq[(Int, Int, Int, Long)] =
      for (i <- lags.indices; (k, n) <- pairs(i).toSeq) yield (lags(i), (k >>> 32).toInt, k.toInt, n(0))
  }

  /** Sliding-window counts at every distinct lag in `lags` and the state
    * histogram, from one scan. Null and negative states are blanks. */
  private def multiLagGrid(dtraj: DataFrame, lags: Seq[Int]): LagGrid = {
    require(lags.nonEmpty && lags.forall(_ > 0), "lags must be positive")
    val distinct = lags.distinct.toArray
    TrajectoryScan.fold(dtraj, Seq(col("state").cast("int")),
        s"Validation multi-lag counts (lags=${distinct.mkString(",")})")(
        new LagGrid(distinct))(_.frame(_, _))(_ merge _)
  }

  /** Sliding-window transition counts for every lag in `lags`, one scan.
    * Output columns: lag, s0, s1, cnt. Blank states (null or negative)
    * excluded. */
  def multiLagCounts(dtraj: DataFrame, lags: Seq[Int]): DataFrame = {
    val spark = dtraj.sparkSession
    import spark.implicits._
    multiLagGrid(dtraj, lags).cells.toDF("lag", "s0", "s1", "cnt")
  }

  /** The grid's dense nStates x nStates count matrix per lag. */
  private def denseCounts(grid: LagGrid, nStates: Int): Map[Int, DenseMatrix[Double]] = {
    val dense = grid.lags.map(_ -> DenseMatrix.zeros[Double](nStates, nStates)).toMap
    grid.cells.foreach { case (lag, s0, s1, n) => dense(lag)(s0, s1) = n.toDouble }
    dense
  }

  /** Implied-timescales data over a lag grid (util/validation.py:56
    * `ImpliedTimescales`): `its(l)(p)` = timescale of process p at
    * `lagtimes(l)`; NaN-padded where a model yields fewer processes. */
  case class ItsData(lagtimes: Array[Int], its: Array[Array[Double]]) {
    def nLagtimes: Int = lagtimes.length
    def maxNProcesses: Int = if (its.isEmpty) 0 else its.map(_.length).max
    def timescalesForProcess(p: Int): Array[Double] =
      its.map(row => if (p < row.length) row(p) else Double.NaN)
  }

  /** Estimate an MSM per lagtime from ONE scan and report implied
    * timescales (validation.py:8). `k` = number of processes (excludes the
    * stationary one). */
  def impliedTimescales(dtraj: DataFrame, lags: Seq[Int], nStates: Int,
                        k: Int = -1, reversible: Boolean = true): ItsData =
    timescales(msmPerLag(dtraj, lags, nStates, reversible), lags, k)

  /** The implied-timescales grid of per-lag models, e.g. [[msmPerLag]]'s. */
  def timescales(models: Map[Int, MarkovStateModel], lags: Seq[Int], k: Int = -1): ItsData = {
    val sorted = lags.sorted
    ItsData(sorted.toArray, sorted.map(l => models(l).timescales(k).toArray).toArray)
  }

  /** Implied timescales WITH Bayesian error bars (validation.py:40-52: the
    * `its_stats` surface for models carrying posterior samples): per lag,
    * effective-count Bayesian posteriors drive sampled timescales.
    * `itsStats(l)(p)` holds the posterior draws for process p at lag l. */
  case class BayesianItsData(lagtimes: Array[Int], its: Array[Array[Double]],
                             itsStats: Array[Array[Array[Double]]]) {
    def ci(l: Int, p: Int, conf: Double = 0.95): (Double, Double) =
      graft.util.Stats.confidenceInterval(itsStats(l)(p).toSeq, conf)
  }

  def impliedTimescalesBayesian(dtraj: DataFrame, lags: Seq[Int], nStates: Int,
                                k: Int = 2, nSamples: Int = 50, seed: Long = 42L,
                                reversible: Boolean = true,
                                useEffectiveCounts: Boolean = true,
                                maxLag: Int = 50): BayesianItsData = {
    val sorted = lags.sorted
    val results = sorted.map { tau =>
      val post = BayesianMsm.fit(dtraj, tau, nStates, nSamples,
        reversible = reversible, seed = seed + tau,
        useEffectiveCounts = useEffectiveCounts, maxLag = maxLag)
      val mlTs = post.prior.timescales(k).toArray
      val sampleTs = post.samples.map(_.timescales(k).toArray)
      val stats = Array.tabulate(k)(p =>
        sampleTs.collect { case ts if p < ts.length => ts(p) }.toArray)
      (mlTs, stats)
    }
    BayesianItsData(sorted.toArray, results.map(_._1).toArray,
      results.map(_._2).toArray)
  }

  /** All per-lag MSMs from a single multi-lag scan. */
  def msmPerLag(dtraj: DataFrame, lags: Seq[Int], nStates: Int,
                reversible: Boolean): Map[Int, MarkovStateModel] =
    denseCounts(multiLagGrid(dtraj, lags), nStates).map { case (tau, dense) =>
      val lcs = Connectivity.largestConnectedSet(dense)
      val sub = Connectivity.submatrix(dense, lcs)
      val t = if (reversible) TransitionMatrixMle.reversible(sub)
              else TransitionMatrixMle.nonReversible(sub)
      tau -> MarkovStateModel(t, tau, lcs)
    }

  /** CK test WITH posterior samples on the predictions (validation.py:257
    * `err_est` path): the test model's Bayesian samples are each propagated
    * through the membership observable, giving per-lag sampled coarse
    * propagators for confidence bands. */
  case class BayesianCkResult(base: CkTestResult,
                              predictionSamples: Array[Seq[DenseMatrix[Double]]])

  def ckTestBayesian(dtraj: DataFrame, tau: Int, steps: Int, nStates: Int,
                     nSets: Int, nSamples: Int = 30, seed: Long = 42L,
                     reversible: Boolean = true,
                     useEffectiveCounts: Boolean = true,
                     maxLag: Int = 50): BayesianCkResult = {
    val base = ckTest(dtraj, tau, steps, nStates, nSets, reversible)
    val post = BayesianMsm.fit(dtraj, tau, nStates, nSamples,
      reversible = reversible, seed = seed,
      useEffectiveCounts = useEffectiveCounts, maxLag = maxLag)
    // reuse the test model's membership construction: observables are built
    // against the PRIOR (ML) model's sets, samples share its active set
    val test = post.prior
    val pcca = Pcca(test, nSets)
    val m = pcca.memberships
    val pi = test.stationaryDistribution
    val p0 = DenseMatrix.tabulate(test.n, nSets)((s, i) => m(s, i) * pi(s))
    (0 until nSets).foreach { i =>
      val s = breeze.linalg.sum(p0(::, i))
      if (s > 0) p0(::, i) :/= s
    }
    def propagated(model: MarkovStateModel, mlag: Int): DenseMatrix[Double] = {
      val out = DenseMatrix.zeros[Double](nSets, nSets)
      for (i <- 0 until nSets) {
        var pk = p0(::, i).copy
        (0 until mlag).foreach(_ => pk = model.transitionMatrix.t * pk)
        for (j <- 0 until nSets) out(i, j) = pk dot m(::, j)
      }
      out
    }
    val samples = base.lagtimes.map { l =>
      if (l == 0) Seq.fill(nSamples)(DenseMatrix.eye[Double](nSets))
      else post.samples.map(s => propagated(s, l / tau))
    }
    BayesianCkResult(base, samples)
  }

  /** Chapman-Kolmogorov test result (validation.py:284
    * `ChapmanKolmogorovTest`): `predictions(l)` is the coarse-grained
    * propagator of the test model powered to `lagtimes(l)/tau`;
    * `estimates(l)` the same observable on the model re-estimated at
    * `lagtimes(l)`. */
  case class CkTestResult(lagtimes: Array[Int], nSets: Int,
                          predictions: Array[DenseMatrix[Double]],
                          estimates: Array[DenseMatrix[Double]])

  /** CK test with PCCA-membership observables over `nSets` metastable sets
    * (validation.py:196 + _observables.py:9). Count matrices for the whole
    * k*tau grid come from one scan. */
  def ckTest(dtraj: DataFrame, tau: Int, steps: Int, nStates: Int, nSets: Int,
             reversible: Boolean = true, includeLag0: Boolean = true): CkTestResult = {
    require(steps >= 1)
    val lags = (1 to steps).map(_ * tau)
    val models = msmPerLag(dtraj, lags, nStates, reversible)
    val test = models(tau)
    val pcca = Pcca(test, nSets)
    val m = pcca.memberships // test.n x nSets
    val pi = test.stationaryDistribution

    // P0[:, i] = memberships(:, i) * pi, column-normalized
    // (_observables.py:43-45)
    val p0 = DenseMatrix.tabulate(test.n, nSets)((s, i) => m(s, i) * pi(s))
    (0 until nSets).foreach { i =>
      val s = bsum(p0(::, i))
      if (s > 0) p0(::, i) :/= s
    }
    // full symbol -> test-model active index
    val full2test = test.states.zipWithIndex.toMap

    def observable(model: MarkovStateModel, mlag: Int): DenseMatrix[Double] = {
      if (mlag == 0 || model == null) return DenseMatrix.eye[Double](nSets)
      // The starting distribution lives on the model's OWN active set
      // (zero mass on symbols the test model doesn't know), and is
      // propagated with the model's full row-stochastic matrix — restricting
      // the matrix instead would leak probability mass
      // (_observables.py:64-71 maps through full2active the same way).
      val out = DenseMatrix.zeros[Double](nSets, nSets)
      for (i <- 0 until nSets) {
        var pk = DenseVector.tabulate(model.n)(mi =>
          full2test.get(model.states(mi)).map(ti => p0(ti, i)).getOrElse(0.0))
        (0 until mlag).foreach(_ => pk = model.transitionMatrix.t * pk)
        for (j <- 0 until nSets) {
          var acc = 0.0
          var a = 0
          while (a < model.n) {
            full2test.get(model.states(a)).foreach(ti => acc += pk(a) * m(ti, j))
            a += 1
          }
          out(i, j) = acc
        }
      }
      out
    }

    val lagtimes = (if (includeLag0) Array(0) else Array.empty[Int]) ++ lags
    val predictions = lagtimes.map(l => observable(test, l / tau))
    val estimates = lagtimes.map(l =>
      if (l == 0) observable(null, 0) else observable(models(l), 1))
    CkTestResult(lagtimes, nSets, predictions, estimates)
  }

  /** CK test over CRISP state sets with EMPIRICAL visitation weights — the
    * SQL-expressible counterpart of the PCCA-membership `ckTest` above
    * (reference validation.py:196 allows arbitrary observables; crisp-set
    * indicator observables are its simplest instance). Every quantity is a
    * ratio of pair counts: estimates are coarse-grained row-normalized
    * count matrices at lag l*tau, predictions coarse-grain the l-th matrix
    * power of the lag-tau matrix, and the starting weights w_i are the
    * state histogram restricted to each set. A DuckDB oracle recomputes
    * the whole grid exactly (matrix powers = n^2-row self-joins). */
  def ckTestSets(dtraj: DataFrame, tau: Int, steps: Int, nStates: Int,
                 sets: Seq[Set[Int]]): CkTestResult = {
    require(steps >= 1)
    val lags = (1 to steps).map(_ * tau)
    // RAW row-normalized count matrices over the full 0..nStates-1 frame
    // (zero rows for states without outgoing pairs at that lag) — NO
    // largest-connected-set restriction: the SQL twin sums over all
    // observed pairs, and an LCS-restricted model would silently diverge
    // from it on data where a state drops out of the LCS at some lag.
    val grid = multiLagGrid(dtraj, lags)
    val tms = denseCounts(grid, nStates).map { case (l, c) =>
      for (i <- 0 until nStates) {
        val rs = bsum(c(i, ::).t)
        if (rs > 0) c(i, ::) :/= rs
      }
      l -> c
    }
    val hist: Map[Int, Double] = grid.visits.toMap.map { case (s, n) => s.toInt -> n(0).toDouble }
    val nSets = sets.length

    def coarse(t: DenseMatrix[Double]): DenseMatrix[Double] = {
      val out = DenseMatrix.zeros[Double](nSets, nSets)
      for (a <- 0 until nSets; b <- 0 until nSets) {
        var num = 0.0
        var den = 0.0
        for (i <- 0 until nStates if sets(a).contains(i)) {
          val wi = hist.getOrElse(i, 0.0)
          den += wi
          var srow = 0.0
          for (j <- 0 until nStates if sets(b).contains(j)) srow += t(i, j)
          num += wi * srow
        }
        out(a, b) = if (den > 0) num / den else 0.0
      }
      out
    }

    val base = tms(tau)
    def power(t: DenseMatrix[Double], p: Int): DenseMatrix[Double] = {
      var acc = DenseMatrix.eye[Double](t.rows)
      (0 until p).foreach(_ => acc = acc * t)
      acc
    }
    val lagtimes = Array(0) ++ lags
    val predictions = lagtimes.map {
      case 0 => DenseMatrix.eye[Double](nSets)
      case l => coarse(power(base, l / tau))
    }
    val estimates = lagtimes.map {
      case 0 => DenseMatrix.eye[Double](nSets)
      case l => coarse(tms(l))
    }
    CkTestResult(lagtimes, nSets, predictions, estimates)
  }
}
