package graft.markov

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.core.Trajectories.{TrajCol, TimeCol}
import graft.lag.TrajectoryScan
import graft.lag.TrajectoryScan.{StateRing, addCount, addCounts}

/** Statistically effective transition counts (reference
  * markov/tools/estimation/sparse/effective_counts.py:220
  * `statistical_inefficiencies` / :302 `effective_count_matrix`;
  * inefficiency formula util/stats.py:292).
  *
  * For start state i, the conditional target sequence Y^(i) concatenates the
  * states reached at t+tau whenever s_t = i. The indicator series
  * a^(ij)_u = 1(Y^(i)_u = j) has statistical inefficiency I_ij; effective
  * counts are c_ij scaled by the row-averaged I.
  *
  * Distributed shape: the reference loops over every nonzero (i,j) and runs
  * a full ACF per pair — O(nnz * N) serial work. Here every pair ACF comes
  * out of one [[graft.lag.TrajectoryScan]], whose ring-and-pair step
  * (`StateRing`) the kernel runs twice: over the dtraj at lag tau, where
  * each pair (i, y) is the (i, y) histogram cell (the single-lag case of
  * `Validation.multiLagCounts`' grid) and appends y to the conditional
  * sequence of start state i; and over each start state's sequence at lags
  * 1..maxLag, where each pair adds one count to (i, lag, y_{u-lag}, y). So
  * a task holds O(nStates * maxLag + tau) state, whatever the trajectory
  * lengths, and the longest sequence per start state feeds the per-i
  * maximum. The accumulators are sparse (only observed keys): at most
  * n^3 * maxLag pair counts, n^2 histogram cells and n maxima per
  * partition reach the driver regardless of input size, and no dense
  * n^3 * maxLag array is ever allocated. Every count is
  * an exact integer, so the result does not depend on partitioning. The
  * indicator acf needs only co-occurrence counts because a_u in {0,1}:
  * sum (a_u - m)(a_{u+l} - m) = N_jj - m (Sh + St) + m^2 n_l.
  *
  * [[conditionalFrame]] and [[acfPairCounts]] express the same statistics
  * as window-function frames (q35 returns the former; the scale audit
  * checks the exchange shape of the latter).
  */
object EffectiveCounts {

  private def w = Window.partitionBy(TrajCol).orderBy(TimeCol)

  /** Conditional frame: one row per (start-state i, traj, conditional index
    * u) with the target y = s_{t+tau}. */
  def conditionalFrame(dtraj: DataFrame, tau: Int): DataFrame = {
    val wu = Window.partitionBy(col("s0"), col(TrajCol)).orderBy(TimeCol)
    dtraj
      .withColumn("y", lead(col("state"), tau).over(w))
      .where(col("y").isNotNull && col("state") >= 0 && col("y") >= 0)
      .select(col("state").as("s0"), col(TrajCol), col(TimeCol), col("y"))
      .withColumn("u", row_number().over(wu))
  }

  /** Pooled co-occurrence counts of the conditional sequences at every acf
    * lag: (s0, lag, y0, y1, cnt) where y0 = Y_u, y1 = Y_{u+lag} within one
    * (s0, traj) sequence. */
  def acfPairCounts(cond: DataFrame, acfLags: Seq[Int]): DataFrame = {
    val wc = Window.partitionBy(col("s0"), col(TrajCol)).orderBy(col("u"))
    val withLeads = acfLags.foldLeft(cond) { (df, l) =>
      df.withColumn(s"y_$l", lead(col("y"), l).over(wc))
    }
    val stacked = array(acfLags.map(l =>
      struct(lit(l).as("lag"), col(s"y_$l").as("y1"))): _*)
    withLeads
      .select(col("s0"), col("y").as("y0"), explode(stacked).as("p"))
      .select(col("s0"), col("p.lag").as("lag"), col("y0"), col("p.y1").as("y1"))
      .where(col("y1").isNotNull)
      .groupBy("s0", "lag", "y0", "y1")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Exact sufficient statistics of the conditional target sequences:
    * `hist` (s0, y) -> count (the sliding count matrix), `nMax(s0)` the
    * longest (s0, traj) sequence, `pairs` (s0, lag, y0, y1) -> count. */
  private[markov] final case class ConditionalCounts(
      hist: Map[(Int, Int), Long],
      nMax: IndexedSeq[Long],
      pairs: Map[(Int, Int, Int, Int), Long])

  /** The streaming kernel's per-partition accumulator, merged over
    * partitions. Pair keys pack (s0, lag - 1, y0, y1); histogram keys pack
    * (s0, y). States outside [0, nStates) never enter a sequence; the
    * largest one is recorded for the driver check. */
  private final class Acc(nStates: Int, nLags: Int, tau: Int) extends Serializable {
    val pairs = new mutable.LongMap[Array[Long]]
    val hist = new mutable.LongMap[Array[Long]]
    val nMax = new Array[Long](nStates)
    var maxState = -1
    // the walk: the lead ring, per start state the ring of its conditional
    // targets (a multi-lag grid over lags 1..nLags of its own), and the
    // start states the current trajectory has touched
    @transient private lazy val lead = new StateRing(Array(tau))
    @transient private lazy val seqs = {
      val acfLags = Array.range(1, nLags + 1)
      Array.fill(nStates)(new StateRing(acfLags))
    }
    @transient private lazy val touched = new Array[Int](nStates)
    private var nTouched = 0

    /** One (traj_id, t, state) frame; `first` opens a trajectory. */
    def frame(r: InternalRow, first: Boolean): Unit = {
      if (first) {
        var k = 0
        while (k < nTouched) { seqs(touched(k)).restart(); k += 1 }
        nTouched = 0
        lead.restart()
      }
      val raw = if (r.isNullAt(2)) -1 else r.getInt(2)
      if (raw > maxState) maxState = raw
      val x = if (raw < nStates) raw else -1
      lead.push(x)((_, s) => target(s, x))
    }

    /** Appends target y to start state s's conditional sequence. */
    private def target(s: Int, y: Int): Unit = {
      val seq = seqs(s)
      if (seq.length == 0) { touched(nTouched) = s; nTouched += 1 }
      seq.push(y)((l, y0) =>
        addCount(pairs, ((s.toLong * nLags + l) * nStates + y0) * nStates + y, 1L))
      if (seq.length > nMax(s)) nMax(s) = seq.length
      addCount(hist, s.toLong * nStates + y, 1L)
    }

    def merge(o: Acc): Acc = {
      addCounts(pairs, o.pairs)
      addCounts(hist, o.hist)
      for (i <- 0 until nStates) nMax(i) = math.max(nMax(i), o.nMax(i))
      maxState = math.max(maxState, o.maxState)
      this
    }
  }

  /** The sufficient statistics in one [[TrajectoryScan]] (see the object
    * doc): one shuffle by trajectory, one aggregation, bounded driver
    * result. */
  private[markov] def conditionalCounts(dtraj: DataFrame, tau: Int, nStates: Int,
                                        maxLag: Int): ConditionalCounts = {
    require(tau >= 1, s"EffectiveCounts: tau must be >= 1, got $tau")
    val nLags = math.max(1, maxLag)
    val acc = TrajectoryScan.fold(dtraj, Seq(col("state").cast("int")),
        s"EffectiveCounts streaming counts (tau=$tau, maxLag=$nLags)")(
        new Acc(nStates, nLags, tau))(_.frame(_, _))(_ merge _)
    require(acc.maxState < nStates,
      s"EffectiveCounts: state ${acc.maxState} is outside [0, $nStates); " +
        s"every state must be < nStates (negative states are skipped)")
    val hist = Map.newBuilder[(Int, Int), Long]
    acc.hist.foreachEntry((k, n) => hist += ((k / nStates).toInt, (k % nStates).toInt) -> n(0))
    val pairs = Map.newBuilder[(Int, Int, Int, Int), Long]
    acc.pairs.foreachEntry { (k, n) =>
      val y1 = (k % nStates).toInt
      val y0 = (k / nStates % nStates).toInt
      val sl = k / nStates / nStates
      pairs += ((sl / nLags).toInt, (sl % nLags).toInt + 1, y0, y1) -> n(0)
    }
    ConditionalCounts(hist.result(), acc.nMax.toIndexedSeq, pairs.result())
  }

  /** Statistical inefficiency matrix I (n x n): I_ij in (0, 1] wherever
    * c_ij > 0, else 0. `maxLag` bounds the acf horizon (the reference
    * integrates to sequence length with truncation at the first
    * non-positive acf; in practice truncation hits long before). */
  def statisticalInefficiencies(dtraj: DataFrame, tau: Int, nStates: Int,
                                maxLag: Int = 100, truncateAcf: Boolean = true,
                                mact: Double = 1.0): DenseMatrix[Double] =
    inefficienciesAndCounts(dtraj, tau, nStates, maxLag, truncateAcf, mact)._1

  /** One-shot core: (inefficiency matrix, sliding count matrix) from one
    * streaming pass — the count matrix IS the conditional (s0, y)
    * histogram, so no second trajectory scan. A state >= nStates raises
    * IllegalArgumentException. */
  def inefficienciesAndCounts(dtraj: DataFrame, tau: Int, nStates: Int,
                              maxLag: Int = 100, truncateAcf: Boolean = true,
                              mact: Double = 1.0): (DenseMatrix[Double], DenseMatrix[Double]) =
    fromCounts(conditionalCounts(dtraj, tau, nStates, maxLag), nStates, maxLag,
      truncateAcf, mact)

  /** Driver-side truncated ACF integration over the sufficient statistics. */
  private[markov] def fromCounts(cc: ConditionalCounts, nStates: Int, maxLag: Int,
                                 truncateAcf: Boolean,
                                 mact: Double): (DenseMatrix[Double], DenseMatrix[Double]) = {
    val c = DenseMatrix.zeros[Double](nStates, nStates)
    cc.hist.foreach { case ((i, j), n) => c(i, j) += n.toDouble }
    val cRow = Array.tabulate(nStates)(i => breeze.linalg.sum(c(i, ::).t))

    // per (i, lag): n_l (valid pairs), and per j: N_jj, S_head_j, S_tail_j
    case class LagStats(nl: Long, njj: Array[Double], sh: Array[Double], st: Array[Double])
    val statsMap = cc.pairs.groupBy { case ((i, l, _, _), _) => (i, l) }.map {
      case (il, rows) =>
        val njj = new Array[Double](nStates)
        val sh = new Array[Double](nStates)
        val st = new Array[Double](nStates)
        var nl = 0L
        rows.foreach { case ((_, _, y0, y1), cnt) =>
          nl += cnt
          sh(y0) += cnt.toDouble
          st(y1) += cnt.toDouble
          if (y0 == y1) njj(y0) += cnt.toDouble
        }
        il -> LagStats(nl, njj, sh, st)
    }

    val ineff = DenseMatrix.zeros[Double](nStates, nStates)
    for (i <- 0 until nStates if cRow(i) > 0; j <- 0 until nStates if c(i, j) > 0) {
      val m = c(i, j) / cRow(i)  // indicator mean
      // NOTE: the reference normalizes corrsum by the UNCENTERED second
      // moment (util/stats.py:339 computes x2m from xflat BEFORE the
      // centered copies are made), not the variance; for a 0/1 indicator
      // that is exactly the mean. Matched deliberately for parity.
      val x2m = m
      val bigN = cc.nMax(i).toDouble
      var corrsum = 0.0
      var continue = true
      var l = 1
      while (l <= maxLag && continue) {
        statsMap.get((i, l)) match {
          case Some(s) if s.nl > 0 =>
            val acf = (s.njj(j) - m * (s.sh(j) + s.st(j)) + m * m * s.nl) / s.nl
            if (acf <= 0 && truncateAcf) continue = false
            else corrsum += acf * (1.0 - l / bigN)
          case _ => continue = false
        }
        l += 1
      }
      val corrtime = 0.5 + mact * corrsum / x2m
      ineff(i, j) = 1.0 / (2.0 * corrtime)
    }
    (ineff, c)
  }

  /** Effective count matrix (effective_counts.py:302): row-averaged
    * inefficiency scaling c_ij^eff = (sum_j I_ij c_ij / c_i) * c_ij. */
  def effectiveCountMatrix(dtraj: DataFrame, tau: Int, nStates: Int,
                           average: String = "row", maxLag: Int = 100,
                           truncateAcf: Boolean = true, mact: Double = 1.0): DenseMatrix[Double] = {
    val (si, c) = inefficienciesAndCounts(dtraj, tau, nStates, maxLag, truncateAcf, mact)
    val ceffEl = c *:* si
    average.toLowerCase match {
      case "row" =>
        val out = DenseMatrix.zeros[Double](nStates, nStates)
        for (i <- 0 until nStates) {
          val ci = breeze.linalg.sum(c(i, ::).t)
          val factor = breeze.linalg.sum(ceffEl(i, ::).t) / math.max(1.0, ci)
          for (j <- 0 until nStates) out(i, j) = factor * c(i, j)
        }
        out
      case "all" =>
        val factor = breeze.linalg.sum(ceffEl) / breeze.linalg.sum(c)
        c * factor
      case "none" => ceffEl
      case other => throw new IllegalArgumentException(s"unknown average mode $other")
    }
  }
}
