package graft.markov

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.core.Trajectories.{TrajCol, TimeCol}

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
  * out of ONE streaming pass: the dtraj is shuffled once by trajectory and
  * sorted by time within each partition, and a per-partition kernel walks
  * each trajectory in order. It keeps a tau-deep ring of recent states (the
  * lead), and per start state a ring of its last maxLag conditional targets
  * plus the sequence length — O(nStates * maxLag + tau) state per task,
  * whatever the trajectory lengths. Each new target y of start state i adds
  * one count to (i, lag, y_{u-lag}, y) for every lag the ring covers, one to
  * the (i, y) histogram, and the sequence length feeds the per-i maximum.
  * The per-partition accumulators are sparse (only observed keys) and are
  * merged by one tagged `treeAggregate`: at most n^3 * maxLag pair counts,
  * n^2 histogram cells and n maxima reach the driver regardless of input
  * size, and no dense n^3 * maxLag array is ever allocated. Every count is
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

  /** Per-partition (then merged) accumulator of the streaming kernel.
    * Pair keys pack (s0, lag - 1, y0, y1); histogram keys pack (s0, y). */
  private final class Acc(val nStates: Int, val nLags: Int) extends Serializable {
    // one-element arrays as mutable count cells: one probe per increment
    val pairs = new mutable.LongMap[Array[Long]]
    val hist = new mutable.LongMap[Array[Long]]
    val nMax = new Array[Long](nStates)
    var maxState = -1

    def merge(o: Acc): Acc = {
      o.pairs.foreachEntry((k, n) => Acc.add(pairs, k, n(0)))
      o.hist.foreachEntry((k, n) => Acc.add(hist, k, n(0)))
      for (i <- 0 until nStates) nMax(i) = math.max(nMax(i), o.nMax(i))
      maxState = math.max(maxState, o.maxState)
      this
    }
  }

  private object Acc {
    def add(m: mutable.LongMap[Array[Long]], k: Long, n: Long): Unit =
      m.getOrElseUpdate(k, new Array[Long](1))(0) += n
  }

  /** The streaming kernel over one partition of (traj_id LONG, t, state
    * INT) rows sorted by (traj_id, t). States outside [0, nStates) never
    * enter a sequence; the largest one is recorded for the driver check. */
  private def scan(rows: Iterator[InternalRow], tau: Int, nStates: Int,
                   nLags: Int): Acc = {
    val acc = new Acc(nStates, nLags)
    val recent = new Array[Int](tau)             // s_{p mod tau}
    val targets = new Array[Int](nStates * nLags) // per s0: Y_{u mod nLags}
    val len = new Array[Long](nStates)
    val touched = new Array[Int](nStates)
    var nTouched = 0
    var pos = 0L
    var curNull = false
    var cur = 0L

    def endTrajectory(): Unit = {
      var k = 0
      while (k < nTouched) {
        val s = touched(k)
        if (len(s) > acc.nMax(s)) acc.nMax(s) = len(s)
        len(s) = 0
        k += 1
      }
      nTouched = 0
      pos = 0
    }

    def push(s: Int, y: Int): Unit = {
      val n = len(s)
      if (n == 0) { touched(nTouched) = s; nTouched += 1 }
      val base = s * nLags
      val top = math.min(n, nLags.toLong).toInt
      var l = 1
      while (l <= top) {
        val y0 = targets(base + ((n - l) % nLags).toInt)
        Acc.add(acc.pairs, ((s.toLong * nLags + (l - 1)) * nStates + y0) * nStates + y, 1L)
        l += 1
      }
      targets(base + (n % nLags).toInt) = y
      len(s) = n + 1
      Acc.add(acc.hist, s.toLong * nStates + y, 1L)
    }

    while (rows.hasNext) {
      val r = rows.next()
      val idNull = r.isNullAt(0)
      val id = if (idNull) 0L else r.getLong(0)
      if (pos > 0 && (idNull != curNull || id != cur)) endTrajectory()
      curNull = idNull; cur = id
      val raw = if (r.isNullAt(2)) -1 else r.getInt(2)
      if (raw > acc.maxState) acc.maxState = raw
      val x = if (raw < nStates) raw else -1
      val ring = (pos % tau).toInt
      if (pos >= tau) {
        val s = recent(ring)
        if (s >= 0 && x >= 0) push(s, x)
      }
      recent(ring) = x
      pos += 1
    }
    endTrajectory()
    acc
  }

  /** The sufficient statistics in one streaming pass (see the object doc):
    * one shuffle by trajectory, one aggregation, bounded driver result. */
  private[markov] def conditionalCounts(dtraj: DataFrame, tau: Int, nStates: Int,
                                        maxLag: Int): ConditionalCounts = {
    require(tau >= 1, s"EffectiveCounts: tau must be >= 1, got $tau")
    val nLags = math.max(1, maxLag)
    val sorted = dtraj
      .select(col(TrajCol).cast("long"), col(TimeCol), col("state").cast("int"))
      .repartition(col(TrajCol))
      .sortWithinPartitions(TrajCol, TimeCol)
    val acc = graft.util.JobTag.withDescription(dtraj.sparkSession.sparkContext,
        s"EffectiveCounts streaming counts (tau=$tau, maxLag=$nLags)") {
      sorted.queryExecution.toRdd
        .mapPartitions(rows => Iterator.single(scan(rows, tau, nStates, nLags)))
        .treeAggregate(new Acc(nStates, nLags))(_ merge _, _ merge _)
    }
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
