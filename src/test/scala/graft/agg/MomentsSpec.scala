package graft.agg

import graft.SparkSpec
import org.scalatest.matchers.should.Matchers

/** Covariance aggregator vs direct computation + merge-law properties
  * (parity targets: reference tests/covariance/test_moments.py,
  * test_running_moments.py). */
class MomentsSpec extends SparkSpec with Matchers {

  def directCov(xs: Seq[Array[Double]], ys: Seq[Array[Double]], bessel: Boolean): (Array[Double], Array[Double], Array[Double]) = {
    val n = xs.length
    val d = xs.head.length
    val mx = Array.tabulate(d)(i => xs.map(_(i)).sum / n)
    val my = Array.tabulate(d)(i => ys.map(_(i)).sum / n)
    val denom = if (bessel) n - 1.0 else n.toDouble
    val cxy = Array.tabulate(d * d) { k =>
      val i = k / d; val j = k % d
      xs.zip(ys).map { case (x, y) => (x(i) - mx(i)) * (y(j) - my(j)) }.sum / denom
    }
    (mx, my, cxy)
  }

  test("aggregator matches direct covariance on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val d = 3
    val rows = Seq.fill(500)(Array.fill(d)(rnd.nextDouble() * 10 - 5))
    val lagged = rows.map(x => x.map(v => v * 0.5 + rnd.nextGaussian()))
    val ds = rows.zip(lagged).map { case (x, y) => LagRow(x, y, 1.0) }.toDS()
    val m = ds.select(new MomentsAggregator(true).toColumn).head()

    val (mx, my, cxy) = directCov(rows, lagged, bessel = true)
    val (_, _, cxx) = directCov(rows, rows, bessel = true)
    m.count shouldBe 500
    (0 until d).foreach { i =>
      m.mean0(i) shouldBe mx(i) +- 1e-10
      m.meant(i) shouldBe my(i) +- 1e-10
    }
    (0 until d * d).foreach { k =>
      m.cov0t(k) shouldBe cxy(k) +- 1e-9
      m.cov00(k) shouldBe cxx(k) +- 1e-9
    }
  }

  test("weighted covariance respects weights") {
    import spark.implicits._
    // weight 2 == duplicating the row (population normalization)
    val xs = Seq(Array(1.0, 2.0), Array(3.0, -1.0), Array(0.5, 4.0))
    val dup = (xs ++ Seq(xs.head)).map(x => LagRow(x, x, 1.0))
    val wtd = xs.zipWithIndex.map { case (x, i) => LagRow(x, x, if (i == 0) 2.0 else 1.0) }
    val a = dup.toDS().select(new MomentsAggregator(false).toColumn).head()
    val b = wtd.toDS().select(new MomentsAggregator(false).toColumn).head()
    a.weight shouldBe b.weight
    (0 until 4).foreach(k => a.cov00(k) shouldBe b.cov00(k) +- 1e-12)
  }

  test("merge is associative and order-independent (property)") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(90)(LagRow(Array(rnd.nextDouble(), rnd.nextGaussian()),
      Array(rnd.nextDouble(), rnd.nextGaussian()), 1.0))
    val agg = new MomentsAggregator(true)
    def aggChunks(chunks: Seq[Seq[LagRow]]): CovarianceModel = {
      val bufs = chunks.map(c => c.foldLeft(agg.zero)((b, r) => { b.add(r.x, r.y, r.w); b }))
      agg.finish(bufs.reduce((a, b) => { a.mergeIn(b); a }))
    }
    val whole = aggChunks(Seq(rows))
    val split3 = aggChunks(rows.grouped(30).toSeq)
    val split7 = aggChunks(rows.grouped(13).toSeq)
    (0 until 4).foreach { k =>
      split3.cov00(k) shouldBe whole.cov00(k) +- 1e-12
      split7.cov0t(k) shouldBe whole.cov0t(k) +- 1e-12
    }
  }

  test("kahan summation survives adversarial magnitudes") {
    val agg = new MomentsAggregator(false)
    val buf = agg.zero
    // alternating large/small values that naive summation mangles
    buf.add(Array(1e12), Array(1e12), 1.0)
    (1 to 10000).foreach(_ => buf.add(Array(0.1), Array(0.1), 1.0))
    buf.add(Array(-1e12), Array(-1e12), 1.0)
    val m = agg.finish(buf)
    m.mean0(0) shouldBe (1000.0 / 10002.0) +- 1e-9
  }

  test("the compensated totals do not depend on how the rows are split and merged") {
    // decimal-valued features (l_tax-like) whose float sums round
    // differently in every order; the merged totals must not
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(60000) {
      val v = Array(rnd.nextInt(9) / 100.0, rnd.nextInt(5000) / 97.0)
      LagRow(v, v, 1.0)
    }
    val agg = new MomentsAggregator(true)
    def fit(chunks: Seq[Seq[LagRow]]): CovarianceModel =
      agg.finish(chunks.map(c => c.foldLeft(agg.zero)((b, r) => { b.add(r.x, r.y, r.w); b }))
        .reduce((a, b) => { a.mergeIn(b); a }))
    val whole = fit(Seq(rows))
    for (n <- Seq(3, 8, 17)) withClue(s"chunks=$n: ") {
      val split = fit(rows.zipWithIndex.groupBy(_._2 % n).values.map(_.map(_._1)).toSeq.reverse)
      split.mean0.toSeq shouldBe whole.mean0.toSeq
      split.cov00.toSeq shouldBe whole.cov00.toSeq
    }
  }
}
