package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Consolidated lab profilers — the round-7 one-off mains (Q21Sf01,
  * IvfTune, ProfileScoring, DedupProfile, DedupPhase) folded into one
  * documented entry point. These are tuning/attribution notebooks, not
  * part of the durable audit surface (that is ScaleAudit / PlanChecks /
  * PlanDump / EntrySmoke).
  *
  * Usage: sbt "runMain graft.tools.Profile <mode> [sfDir]"
  *   q21recall  — exact >=0.6-jaccard pairs vs minhash-banding candidates
  *                (recall audit at bench scale; 0 missed at sf0.1)
  *   ivftune    — q64 IVF recall@5 vs brute force over (nCells, nProbe)
  *   scoring    — q98/q103 LM-scoring stage timings
  *   dedupphase — q21/q76 candidates -> verify -> CC phase attribution
  *                (includes the old full-corpus verify shape for contrast)
  */
object Profile {

  private def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("dedupphase")
    val dir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    mode match {
      case "q21recall" => q21Recall(spark, dir)
      case "ivftune" => ivfTune(spark, dir)
      case "scoring" => scoring(spark, dir)
      case "dedupphase" => dedupPhase(spark, dir)
      case "steady" => steady(spark, dir, args.lift(2).getOrElse(
        sys.error("usage: Profile steady <sfDir> <queryName>")))
      case other => sys.error(s"unknown profile mode '$other' " +
        "(q21recall | ivftune | scoring | dedupphase | steady)")
    }
    spark.stop()
  }

  /** Steady-state repeat timing of one registry query: 5 executions in
    * ONE session, printing each. Single-invocation bench slots on this
    * box vary by up to ±1.5 s around a ~3 s query (JIT + codegen-compile
    * + scheduler cold start dominate the first execution), which is
    * enough to both fake and mask a real regression — the r9 TRAM guard
    * cost (+2.5 s steady-state from `when`-branch subtree duplication)
    * was only attributable after A/B-ing steady-state runs of the two
    * source versions. Usage: sbt "runMain graft.tools.Profile steady
    * <sfDir> <queryName>". */
  private def steady(spark: SparkSession, dir: String, name: String): Unit = {
    for (i <- 1 to 5) {
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, dir).count()
      println(f"[profile] steady $name iter $i rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** Recall audit for the q21 minhash banding: the exact >=0.6-jaccard
    * pair set via shingle co-occurrence vs the banding candidates.
    * Measured: 256 planted pairs at sf0.1, zero missed by the 8x5
    * banding (25/25 at sf0.01) — the oracle-equivalence assumption holds
    * an order of magnitude above the correctness gate. */
  private def q21Recall(spark: SparkSession, dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sh = docs.select(col("doc_id"),
      explode(array_distinct(graft.text.TextFunctions.shingles(col("text"), 5))).as("s"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("ni"))
    val exact = inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .where(col("ni").cast("double") / (col("na") + col("nb") - col("ni")) >= 0.6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = graft.dedup.Dedup.minhashCandidates(docs, bands = 8, rowsPerBand = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[q21recall] exact pairs >= 0.6: ${exact.size}; " +
      s"missed by banding: ${(exact -- cand).size}")
  }

  /** q64 IVF recall sweep: recall@5 vs brute force over (nCells, nProbe). */
  private def ivfTune(spark: SparkSession, dir: String): Unit = {
    import graft.similarity.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.where(col("vec_id") % 40 === 0)
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")).cache()
    brute.count()
    for (nProbe <- Seq(3, 4, 5, 6); nCells <- Seq(8, 16)) {
      val ivf = Similarity.ivfTopK(e, q, k = 5, nCells = nCells, nProbe = nProbe, seed = 42L)
        .select(col("query_id"), col("neighbor_id"))
      val rec = ivf.join(brute, Seq("query_id", "neighbor_id"), "left")
        .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1))).as("r"))
        .collect()(0).getDouble(0)
      println(f"[ivftune] nCells=$nCells nProbe=$nProbe recall=$rec%.4f")
    }
  }

  /** q98/q103 LM-scoring stage timings (bigram NLL, DSIR). */
  private def scoring(spark: SparkSession, dir: String): Unit = {
    import graft.text.{Scoring, TextFunctions}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.count(); docs.select(explode(split(lower(trim(col("text"))), "\\s+"))).count()
    val grams = docs.select(col("doc_id"),
        explode(TextFunctions.wordShingles(lower(trim(col("text"))), 2)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
    time("grams.count")(grams.count())
    val big = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    time("big.count")(big.count())
    time("big.collect")(big.collect().length)
    time("bigramNll")(Scoring.bigramNll(docs).count())
    time("bigramNll again")(Scoring.bigramNll(docs).count())
    time("dsir")(Scoring.dsirScores(docs, col("source") === "src0").count())
    time("dsir again")(Scoring.dsirScores(docs, col("source") === "src0").count())
  }

  /** q21/q76 phase attribution: candidates -> verify -> connected
    * components, plus the pre-optimization full-corpus verify shape. */
  private def dedupPhase(spark: SparkSession, dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.count() // warm scan
    val cand = time("candidates+checkpoint") {
      graft.dedup.Dedup.minhashCandidates(docs, bands = 8, rowsPerBand = 5)
        .localCheckpoint()
    }
    println(s"[profile] n_candidates = ${cand.count()}")
    val verified = time("verify(semi-join)") {
      graft.dedup.Dedup.ngramJaccard(docs, cand, 5)
        .where(col("jaccard") >= 0.6).select("a", "b").localCheckpoint()
    }
    println(s"[profile] n_verified = ${verified.count()}")
    time("cc") {
      graft.dedup.Dedup.duplicateClusters(verified).count()
    }
    val sh = docs.select(col("doc_id"),
      array_distinct(transform(
        graft.text.TextFunctions.shingles(col("text"), 5), s => xxhash64(s))).as("sh"))
    time("verify(full, old shape)") {
      cand.join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
        .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
        .where((size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double")) >= 0.6)
        .count()
    }
  }
}
