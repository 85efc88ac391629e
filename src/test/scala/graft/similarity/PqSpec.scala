package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Product quantization: codebook/encode/LUT algebra, ADC expression
  * parity, recall vs brute force, and determinism. */
class PqSpec extends SparkSpec with Matchers {

  def clusteredEmbeddings(n: Int, d: Int, nClusters: Int, seed: Long) = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(seed)
    val centers = Array.fill(nClusters, d)(rng.nextGaussian() * 3)
    (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.indices.map(j => c(j) + 0.3 * rng.nextGaussian()))
    }.toDF("vec_id", "embedding")
  }

  test("ADC score expression equals the scala replay of codes x lut") {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(7L)
    val m = 4; val ksub = 8
    val rows = (0 until 50).map { i =>
      val codes = Seq.fill(m)(rng.nextInt(ksub))
      val lut = Seq.fill(m * ksub)(rng.nextDouble() * 2 - 1)
      (i, codes, lut)
    }
    val df = rows.toDF("id", "codes", "lut")
    val got = df.select(col("id"),
        graft.functions.ArrayNumeric.pqAdcScore(col("codes"), col("lut")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, codes, lut) =>
      val want = codes.zipWithIndex.map { case (c, j) => lut(j * ksub + c) }.sum
      got(i) shouldBe want +- 1e-12
    }
  }

  test("ADC score is NULL on out-of-range codes or ragged lut") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(0, 9), Seq.fill(8)(1.0)),  // code 9 >= ksub 4
      (2, Seq(0, 1), Seq.fill(7)(1.0))   // 7 % 2 != 0
    ).toDF("id", "codes", "lut")
    val out = df.select(
      graft.functions.ArrayNumeric.pqAdcScore(col("codes"), col("lut"))).collect()
    out.foreach(r => r.isNullAt(0) shouldBe true)
  }

  def uniformEmbeddings(n: Int, d: Int, seed: Long) = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(seed)
    (0 until n).map { i =>
      (i.toLong, Seq.fill(d)(rng.nextGaussian()))
    }.toDF("vec_id", "embedding")
  }

  // The near-uniform sphere is the regime of the testdata embeddings
  // (and the honest PQ regime: ADC must rank GLOBAL neighbors, not
  // resolve sub-cluster noise below the quantization distortion — for
  // within-cluster resolution compose with ivfTopK and re-rank wider).
  test("pq top-k has high recall vs brute force on uniform embeddings") {
    val corpus = uniformEmbeddings(2000, 16, seed = 5L).cache()
    val queries = corpus.where(col("vec_id") % 100 === 0)
    val k = 5
    val exact = Similarity.bruteForceTopK(corpus, queries, k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(corpus, queries, k, dim = 16, m = 4,
        ksub = 32, shortlist = 64, seed = 11L)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be > 0.9
    // exactly k results per query, ranks 1..k
    val ranks = Similarity.pqTopK(corpus, queries, k, dim = 16, m = 4,
        ksub = 32, shortlist = 64, seed = 11L)
      .groupBy("query_id").agg(count(lit(1)).as("n"), max("rank").as("maxr"))
      .collect()
    ranks.foreach { r =>
      r.getLong(1) shouldBe k.toLong
      r.getInt(2) shouldBe k
    }
  }

  test("ivf+pq composition keeps high recall while probing a cell subset") {
    val corpus = uniformEmbeddings(2000, 16, seed = 5L).cache()
    val queries = corpus.where(col("vec_id") % 100 === 0)
    val k = 5
    val exact = Similarity.bruteForceTopK(corpus, queries, k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfPqTopK(corpus, queries, k, dim = 16,
        nCells = 4, nProbe = 3, m = 4, ksub = 32, shortlist = 96, seed = 11L)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be > 0.85
  }

  test("pq training and top-k are deterministic for a fixed seed") {
    val corpus = clusteredEmbeddings(500, 16, 4, seed = 9L).cache()
    val queries = corpus.where(col("vec_id") % 100 === 0)
    def run() = Similarity.pqTopK(corpus, queries, 3, dim = 16, m = 4,
        ksub = 8, shortlist = 16, seed = 3L)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    run() shouldBe run()
  }

  test("pqTrain on an empty corpus raises its named non-empty precondition") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.pqTrain(empty, dim = 8, m = 2, ksub = 4, seed = 2L))
    e.getMessage should include("Similarity.pqTrain")
    e.getMessage should include("non-empty")
  }

  test("pqTrain rejects a NaN or infinite vector value, naming the operator") {
    import spark.implicits._
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity)) {
      val corpus = (0 until 40).map(i =>
        (i.toLong, Seq.tabulate(8)(j => if (i == 17 && j == 5) bad else (i * 8 + j) % 7 - 3.0)))
        .toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException](
        Similarity.pqTrain(corpus, dim = 8, m = 2, ksub = 4, seed = 2L))
      e.getMessage should include("Similarity.pqTrain")
      e.getMessage should include("finite")
    }
  }

  test("subspaces with fewer than ksub distinct sub-vectors train, encode and rank") {
    import spark.implicits._
    // three distinct vectors repeated: every subspace has 3 distinct
    // sub-vectors, far fewer than ksub
    val patterns = Array(
      Seq(1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 1.0))
    val corpus = (0 until 60).map(i => (i.toLong, patterns(i % 3)))
      .toDF("vec_id", "embedding").cache()
    val ksub = 16
    val model = Similarity.pqTrain(corpus, dim = 8, m = 2, ksub = ksub, seed = 2L)
    model.codebooks.foreach(cb => cb.length should (be >= 1 and be <= 3))
    patterns.foreach { p =>
      val v = p.toArray
      val nrm = math.sqrt(v.map(x => x * x).sum)
      val u = v.map(_ / nrm)
      val codes = model.encode(u)
      codes.zip(model.codebooks).foreach { case (c, cb) => c should be < cb.length }
      model.lut(u).length shouldBe model.m * ksub
    }
    val queries = corpus.where(col("vec_id") < 3)
    val top = Similarity.pqTopK(corpus, queries, 3, dim = 8, m = 2, ksub = ksub,
        shortlist = 8, seed = 2L)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    top.length shouldBe 9
    // every top-3 neighbor is an exact copy of its query
    top.foreach { case (q, nb) => (nb % 3) shouldBe (q % 3) }
    corpus.unpersist()
  }

  test("encode round-trip: a centroid-exact vector encodes to its centroid") {
    val corpus = clusteredEmbeddings(400, 8, 4, seed = 1L).cache()
    val model = Similarity.pqTrain(corpus, dim = 8, m = 2, ksub = 4, seed = 2L)
    // reconstructed vector from codes must be closer to the original than
    // a random other vector's reconstruction (sanity of codebook geometry)
    val vecs = corpus.select(graft.functions.ArrayNumeric.unit(col("embedding")))
      .collect().map(_.getSeq[Double](0).toArray)
    def recon(codes: Array[Int]): Array[Double] =
      (0 until model.m).flatMap(j => model.codebooks(j)(codes(j))).toArray
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val own = vecs.map(v => d2(v, recon(model.encode(v))))
    val cross = vecs.zip(vecs.reverse).map { case (v, w) => d2(v, recon(model.encode(w))) }
    own.sum should be < cross.sum
  }
}
