package graft.pipeline

import graft.SparkSpec
import graft.clustering.{BoxDiscretization, ClusterModel}
import graft.dedup.Dedup
import graft.lag.Lag
import graft.similarity.Similarity
import graft.text.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Row-level ops: discretization, lag pairing, text, dedup, similarity. */
class OpsSpec extends SparkSpec with Matchers {

  test("lag pairs never cross trajectory boundaries") {
    import spark.implicits._
    val traj = Seq((0L, 0L, Array(1.0)), (0L, 1L, Array(2.0)),
      (1L, 0L, Array(10.0)), (1L, 1L, Array(20.0)))
      .toDF("traj_id", "t", "features")
    val p = Lag.pairs(traj, 1).collect()
    p.length shouldBe 2
    p.foreach { r =>
      val x = r.getSeq[Double](r.fieldIndex("x"))(0)
      val y = r.getSeq[Double](r.fieldIndex("y"))(0)
      (y - x) should (be(1.0) or be(10.0))
    }
  }

  test("box discretization bins uniformly and clamps edges") {
    import spark.implicits._
    val traj = (0 until 100).map(i => (0L, i.toLong, Array(i.toDouble)))
      .toDF("traj_id", "t", "features")
    val m = BoxDiscretization.fit(traj, Array(10))
    val out = BoxDiscretization.transform(traj, m)
    val states = out.select("state").as[Int].collect()
    states.min shouldBe 0
    states.max shouldBe 9
    // value 99.0 (the max) must clamp into the last bin
    out.where(col("t") === 99).select("state").as[Int].head() shouldBe 9
  }

  test("box discretization of an empty frame raises its named non-empty precondition") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Array[Double])].toDF("traj_id", "t", "features")
    val e = intercept[IllegalArgumentException](BoxDiscretization.fit(empty, Array(4, 4)))
    e.getMessage should include("BoxDiscretization.fit")
    e.getMessage should include("non-empty")
  }

  test("cluster assignment picks nearest center (codegen path)") {
    import spark.implicits._
    val m = ClusterModel(Array(Array(0.0, 0.0), Array(10.0, 10.0)))
    val df = Seq((0L, 0L, Array(1.0, -1.0)), (1L, 0L, Array(9.0, 11.0)))
      .toDF("traj_id", "t", "features")
    val out = m.transform(df).select("state").as[Int].collect()
    out shouldBe Array(0, 1)
  }

  test("token/word/punct counts") {
    import spark.implicits._
    val df = Seq("Hello, world! 42 foo").toDF("text")
    val r = df.select(
      TextFunctions.tokenCount(col("text")),
      TextFunctions.wordCount(col("text")),
      TextFunctions.punctCount(col("text")),
      TextFunctions.digitCount(col("text"))).head()
    r.getInt(0) shouldBe 4
    r.getInt(1) shouldBe 3
    r.getInt(2) shouldBe 2
    r.getInt(3) shouldBe 2
  }

  test("shingles and jaccard") {
    import spark.implicits._
    val df = Seq(("abcde")).toDF("text")
    val sh = df.select(TextFunctions.shingles(col("text"), 3)).head().getSeq[String](0)
    sh shouldBe Seq("abc", "bcd", "cde")

    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown cat"),
      (3L, "zzzz yyyy xxxx")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val j = Dedup.ngramJaccard(docs, pairs, 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    j((1L, 2L)) should be > 0.5
    j((1L, 3L)) shouldBe 0.0 +- 1e-12
  }

  test("exact dedup keeps first doc of identical normalized text") {
    import spark.implicits._
    val docs = Seq((5L, "Hello  World"), (2L, "hello world"), (9L, "unrelated"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect()
      .map(r => (r.getLong(0), r.getBoolean(r.fieldIndex("keep")))).toMap
    out(2L) shouldBe true
    out(5L) shouldBe false
    out(9L) shouldBe true
  }

  test("minhash LSH finds near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, base), (2L, base + " tail"), (3L, "completely different content xyzzy"))
      .toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(docs, bands = 16, rowsPerBand = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    cand should contain((1L, 2L))
    cand should not contain ((1L, 3L))
  }

  test("simhash hamming distance small for near-identical docs") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, base), (2L, base + " mu"), (3L, "qq ww ee rr tt yy uu ii oo pp"))
      .toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) should be < 10
    java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) should be > 10
  }

  test("brute-force cosine top-k returns nearest by construction") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0), 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    out(1L) shouldBe 1  // closest
    out(2L) shouldBe 2
  }

  test("central difference derivative on linear series is constant") {
    import spark.implicits._
    val traj = (0 until 10).map(i => (0L, i.toLong, 3.0 * i))
      .toDF("traj_id", "t", "value")
    val d = Lag.centralDifference(traj, "value")
      .select("deriv").as[Double].collect()
    d.foreach(_ shouldBe 3.0 +- 1e-12)
  }

  test("repetition fractions match hand-computed values") {
    import spark.implicits._
    import graft.text.TextFunctions
    // 4 lines, "aa" repeated twice -> dup_line_frac = 1 - 3/4
    // tokens: aa bb aa bb aa -> 2-grams: [aa bb, bb aa, aa bb, bb aa]
    //   -> 1 - 2/4 = 0.5
    val doc = "aa\nbb\naa\nbb aa"
    val df = Seq((1L, doc), (2L, "xy"), (3L, "")).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
      TextFunctions.dupLineFrac(col("text")).as("l"),
      TextFunctions.dupWordNgramFrac(col("text"), 2).as("w"),
      TextFunctions.dupNgramFrac(col("text"), 5).as("c"))
      .as[(Long, Double, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    r(1L)._1 shouldBe (1.0 - 3.0 / 4.0) +- 1e-12
    r(1L)._2 shouldBe 0.5 +- 1e-12
    // doc shorter than the shingle width -> fraction 0, not NaN
    r(2L)._3 shouldBe 0.0
    r(3L)._1 shouldBe 0.0 +- 1e-12 // [""] single line, no dups
    r(3L)._2 shouldBe 0.0
  }
}
