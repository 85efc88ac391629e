package graft.similarity

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The certified quantization bound behind semDedup's int8 sweep:
  * |cos(qa,qb) - cos(va,vb)| <= 2*(rho_a + rho_b) with
  * rho = |v - s*q|/|v| — pinned on random AND adversarial vectors, plus
  * keep/drop identity of the banded int8 semDedup against a plain
  * all-float64 reference sweep. */
class QuantBoundSpec extends SparkSpec {

  private def pairsFrame(rows: Seq[(Long, Array[Double])]) = {
    import spark.implicits._
    val df = rows.toDF("id", "v")
      .withColumn("qv", Similarity.quantizeTinyint(col("v")))
      .withColumn("rho", Similarity.quantResidualRel(col("v")))
    val a = df.select(col("id").as("ia"), col("v").as("va"),
      col("qv").as("qa"), col("rho").as("ra"))
    val b = df.select(col("id").as("ib"), col("v").as("vb"),
      col("qv").as("qb"), col("rho").as("rb"))
    a.join(b, col("ib") > col("ia"))
      .select(
        Similarity.quantizedCosine(col("qa"), col("qb")).as("qcos"),
        Similarity.cosine(col("va").cast("array<double>"),
          col("vb").cast("array<double>")).as("cos"),
        (lit(2.0) * (col("ra") + col("rb"))).as("bound"))
  }

  test("bound holds on random gaussian vectors (all pairs, d=64)") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 60L).map(i => (i, Array.fill(64)(rnd.nextGaussian())))
    val viol = pairsFrame(rows)
      .where(abs(col("qcos") - col("cos")) > col("bound") + lit(1e-12))
      .count()
    assert(viol == 0L, s"$viol pairs violate the certified bound")
  }

  test("bound holds on adversarial vectors: norm concentrated in one " +
    "element, near-parallel pairs, tiny magnitudes, mixed dims of scale") {
    val rnd = new scala.util.Random(23)
    val spike = (0 until 20).map { i =>
      val v = Array.fill(16)(rnd.nextDouble() * 1e-3)
      v(i % 16) = if (i % 2 == 0) 1.0 else -1.0
      v
    }
    val nearParallel = (0 until 20).map { i =>
      val base = Array.tabulate(16)(j => math.sin(j + 1.0))
      base.zipWithIndex.map { case (e, j) =>
        e + (if (j == i % 16) 1e-4 * (i + 1) else 0.0) }
    }
    val tiny = (0 until 10).map(i => Array.fill(16)(rnd.nextGaussian() * 1e-200))
    val rows = (spike ++ nearParallel ++ tiny).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val viol = pairsFrame(rows)
      .where(abs(col("qcos") - col("cos")) > col("bound") + lit(1e-12))
      .count()
    assert(viol == 0L, s"$viol adversarial pairs violate the certified bound")
  }

  test("zero vectors: rho is NaN and the pair can never certify or band") {
    import spark.implicits._
    val df = Seq((1L, Array(0.0, 0.0, 0.0)), (2L, Array(1.0, 2.0, 3.0)))
      .toDF("id", "v")
      .withColumn("rho", Similarity.quantResidualRel(col("v")))
    val rhos = df.orderBy("id").collect().map(_.getDouble(2))
    assert(rhos(0).isNaN)
    assert(!rhos(1).isNaN && rhos(1) >= 0.0)
  }

  test("denormal underflow regime: a nonzero v below the 1e-300 scale " +
    "floor quantizes to the all-zero code, qcos=0/rho=1 routes it into " +
    "the re-check band, and semDedup keep/drop still matches float64") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // max|element| ~1e-305 < ~3.9e-303: every element / (1e-300/127)
    // rounds to 0 — the ADVICE r12 regime (the old comment claimed it
    // was impossible)
    val denormal = (0 until 8).map(_ => Array.fill(16)(rnd.nextGaussian() * 1e-305))
    val base = Array.fill(16)(rnd.nextGaussian())
    val dups = (0 until 6).map(_ => base.map(_ + rnd.nextGaussian() * 0.02))
    val noise = (0 until 20).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val rows = (denormal ++ dups ++ noise).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    // zero code confirmed: the quantizer actually underflows here
    val codes = rows.take(8).toDF("id", "v")
      .select(Similarity.quantizeTinyint(col("v")).as("q")).collect()
    codes.foreach(r => assert(r.getSeq[Byte](0).forall(_ == 0),
      "denormal vector did not quantize to the all-zero code"))
    val df = rows.toDF("vec_id", "embedding").repartition(3)
    val res = Similarity.semDedup(df, tau = 0.8, nClusters = 2, seed = 7L)
      .select("vec_id", "cell", "keep").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val cellOf = res.map(r => r._1 -> r._2).toMap
    val cellDf = rows.map { case (id, v) => (id, v, cellOf(id)) }
      .toDF("vec_id", "embedding", "cell")
    val l = cellDf.select(col("cell"), col("vec_id").as("a"), col("embedding").as("va"))
    val r2 = cellDf.select(col("cell"), col("vec_id").as("b"), col("embedding").as("vb"))
    val droppedRef = l.join(r2, Seq("cell"))
      .where(col("a") < col("b") && Similarity.cosine(
        col("va").cast("array<double>"), col("vb").cast("array<double>")) >= 0.8)
      .select("b").distinct().collect().map(_.getLong(0)).toSet
    res.foreach { case (id, _, keep) =>
      assert((keep == 0) == droppedRef.contains(id),
        s"vec $id keep=$keep disagrees with float64 reference in the " +
          "denormal regime")
    }
    // the near-dup cluster itself must still collapse (5 of 6 dropped)
    assert(res.count { case (id, _, keep) => id >= 8 && id < 14 && keep == 0 } == 5)
  }

  test("non-finite regime (ADVICE r13): Inf embedding elements are " +
    "rejected LOUDLY upstream (k-means summarizer), never silently " +
    "mis-certified; the band guard itself treats Inf qcos/m as bad") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // end-to-end contract: Inf input cannot even reach the band stage —
    // LloydKMeans.fit's sizing pass raises, so a caller gets a hard error
    // rather than a sweep whose certification quietly saw +Inf >= tau+m
    val infs = (0 until 4).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian())
      v(i % 16) = if (i % 2 == 0) Double.PositiveInfinity
                  else Double.NegativeInfinity
      v
    }
    val noise = (0 until 20).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val rows = (infs ++ noise).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("vec_id", "embedding").repartition(3)
    val e = intercept[Exception] {
      Similarity.semDedup(df, tau = 0.8, nClusters = 2, seed = 7L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t.getMessage).toSeq ++ Option(t.getCause).toSeq.flatMap(msgs)
    assert(msgs(e).exists(_.contains("NaN or Infinity")),
      s"expected the loud non-finite rejection, got: ${e.getMessage}")

    // band-guard defense in depth for paths that bypass the summarizer:
    // the full-finiteness predicate (isnan || |x| > MaxValue, the guard
    // Similarity uses for qcosBad) flags ±Inf AND NaN, so neither can
    // satisfy `!bad && qcos >= tau + m` — the old NaN-only check let
    // +Inf qcos certify
    val vals = Seq(Double.PositiveInfinity, Double.NegativeInfinity,
      Double.NaN, 0.9, -0.4).toDF("x")
    val flagged = vals.select(
      (isnan(col("x")) || abs(col("x")) > lit(Double.MaxValue)).as("bad"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(flagged == Seq(true, true, true, false, false))
  }

  test("banded int8 semDedup keep/drop identical to a plain float64 sweep") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // clusters of near-duplicates + background noise, d=32
    val base = (0 until 6).map(_ => Array.fill(32)(rnd.nextGaussian()))
    val rows = (0 until 240).map { i =>
      val v =
        if (i % 3 == 0) base(i % 6).map(_ + rnd.nextGaussian() * 0.05)
        else Array.fill(32)(rnd.nextGaussian())
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding").repartition(5)
    val res = Similarity.semDedup(df, tau = 0.8, nClusters = 4, seed = 9L)
      .select("vec_id", "cell", "keep").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    // reference: same cells (same codebook params), plain float sweep
    val cellOf = res.map(r => r._1 -> r._2).toMap
    val cellDf = rows.map { case (id, v) => (id, v, cellOf(id)) }
      .toDF("vec_id", "embedding", "cell")
    val l = cellDf.select(col("cell"), col("vec_id").as("a"), col("embedding").as("va"))
    val r2 = cellDf.select(col("cell"), col("vec_id").as("b"), col("embedding").as("vb"))
    val droppedRef = l.join(r2, Seq("cell"))
      .where(col("a") < col("b") && Similarity.cosine(
        col("va").cast("array<double>"), col("vb").cast("array<double>")) >= 0.8)
      .select("b").distinct().collect().map(_.getLong(0)).toSet
    res.foreach { case (id, _, keep) =>
      assert((keep == 0) == droppedRef.contains(id),
        s"vec $id keep=$keep disagrees with float64 reference")
    }
    // determinism across partitionings: keep flags identical, and the
    // cell PARTITION identical up to a relabeling (k-means centroid ids
    // may permute with input order; membership must not)
    val res2 = Similarity.semDedup(df.repartition(11), tau = 0.8, nClusters = 4, seed = 9L)
      .select("vec_id", "cell", "keep").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    // (cell membership itself can shift with input order — a k-means
    // property on loosely-separated noise, since the seeder draws rows in
    // partition order; same caveat as CurationSpec; the gated contract is
    // keep/drop vs the emitted assignment, asserted above, plus keep
    // stability here on strongly-separated near-dups)
    assert(res2.map(r => (r._1, r._3)).toSeq == res.map(r => (r._1, r._3)).toSeq,
      "keep flags changed under repartitioning")
  }
}
