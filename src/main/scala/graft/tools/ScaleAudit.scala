package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale proof-point for the dedup/ANN family (VERDICT r05 item 7):
  * builds a 10x corpus (50k documents / 20k embeddings) by replicating
  * sf0.1 with per-copy word perturbations (copies land BELOW the
  * near-dup thresholds, so candidate structure stays organic instead of
  * degenerating into 10-member exact-dup cliques), then runs the q21 /
  * q76 / q86 shapes against it and asserts the plan invariants that
  * make them 100 TB-safe PROGRAMMATICALLY:
  *
  *   1. no shuffle exchange ever carries the text or embedding payload
  *      column (candidates travel as ids; payloads are re-joined
  *      candidate-driven),
  *   2. no cartesian product anywhere,
  *   3. q76's duplicate-graph stays edge-proportional (reports the edge
  *      count vs the 1M driver union-find bound).
  *
  * Run: sbt "runMain graft.tools.ScaleAudit" (env SCALE_SRC to point at
  * a different base sf dir, SCALE_DIR for the generated corpus).
  */
object ScaleAudit {

  def buildCorpus(spark: SparkSession, src: String, out: String,
                  copies: Int = 10, period: Int = 7): Unit = {
    val fs = new java.io.File(out)
    // the sentinel ENCODES the build parameters + perturbation scheme:
    // a bare _DONE let a corpus built with different (copies, period) —
    // or the pre-round-9 shared-prefix token scheme — be silently
    // reused, so the audit validated its invariants against the wrong
    // corpus while printing OK
    val stamp = s"copies=$copies period=$period scheme=hashtok-v1"
    val done = new java.io.File(fs, "_DONE")
    if (done.exists() &&
        new String(java.nio.file.Files.readAllBytes(done.toPath),
          "UTF-8") == stamp) return
    if (fs.exists()) {
      // safety: only ever delete something that LOOKS like a prior audit
      // corpus (has our stamp file or the documents.parquet we wrote) —
      // a misconfigured SCALE_DIR pointing at an unrelated directory must
      // abort, not be silently wiped
      val looksLikeCorpus = done.exists() ||
        new java.io.File(fs, "documents.parquet").exists()
      require(looksLikeCorpus,
        s"[scale-audit] refusing to delete $out: it exists but has neither " +
          "a _DONE stamp nor documents.parquet — not a prior audit corpus. " +
          "Point SCALE_DIR/SCALE_DIR_100 at an empty or audit-owned path.")
      println(s"[scale-audit] corpus at $out is stale or unstamped — rebuilding ($stamp)")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(fs)
    }
    fs.mkdirs()
    val docs = spark.read.parquet(s"$src/documents.parquet")
    // copy k != 0 replaces every `period`-th word (phase k) with a token
    // derived from hash(doc_id, copy, position): the replacement carries
    // NO shared prefix across docs or positions, so perturbation adds
    // zero common shingle mass. (The earlier "cp{k}_word" scheme put the
    // same 4-5-char prefix on every perturbed word of copy k — at period
    // 3 a third of every doc's shingle windows shared it, making
    // UNRELATED docs within one copy minhash-collide: 49M candidates at
    // 100x, a corpus artifact.) CALIBRATION (char 5-shingle jaccard
    // between two perturbed copies of the same doc, measured on sf0.1):
    // period 7 -> median ~0.55 (brushes the 0.6 near-dup threshold; at
    // 100 copies the 4950 copy-pairs/doc x ~34% band-collision rate is a
    // quadratic cross-copy explosion); period 3 -> median ~0.35, zero
    // pairs >= 0.5 — replicas sit far below the threshold as intended
    // while in-copy planted pairs keep their similarity structure. The
    // 10x audit keeps period 7 (borderline load is modest at 45
    // copy-pairs/doc); the 100x audit passes 3.
    // The extra `i == id mod numWords` clause guarantees at least ONE
    // perturbed word per copy: without it, documents shorter than
    // `period` words get no replacement in most phases, so their copies
    // are EXACT duplicates — clique-squared candidate blowup (51M pairs
    // observed at 100x), again a corpus artifact, not an operator
    // property.
    val words = split(col("text"), " ")
    spark.range(copies).crossJoin(docs).select(
      (col("doc_id") + col("id") * 10000000L).as("doc_id"),
      col("source"), col("lang"),
      when(col("id") === 0, col("text")).otherwise(
        concat_ws(" ", transform(words,
          (w, i) => when(pmod(i + col("id"), lit(period)) === 0 ||
              i === pmod(col("id"), greatest(size(words), lit(1))),
            concat(lit("x"), pmod(abs(hash(col("doc_id"), col("id"), i, w)),
              lit(1000000000L)))).otherwise(w)))
      ).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    // per-copy random SIGN pattern: (u*s).(v*s) = u.v exactly, so every
    // within-copy cosine (incl. planted near-dups) is preserved, while
    // cross-copy cosines randomize to ~0 — the corpus scales 10x with
    // organic pair structure instead of cross-copy explosion
    spark.range(copies).crossJoin(emb).select(
      (col("vec_id") + col("id") * 10000000L).as("vec_id"),
      when(col("id") === 0, col("embedding")).otherwise(
        transform(col("embedding"),
          (v, i) => when(pmod(xxhash64(i, col("id")), lit(2)) === 0, v)
            .otherwise(-v))
      ).as("embedding"),
      col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // the q21/q76/q86 shapes only read documents + embeddings; symlink
    // nothing else
    java.nio.file.Files.write(done.toPath, stamp.getBytes("UTF-8"))
    println(s"[scale-audit] built ${copies}x corpus at $out (embedding dim $d)")
  }

  /** Every physical node of an (executed or unexecuted) plan,
    * INCLUDING the subtrees AQE hides behind QueryStageExec leaves.
    * Spark 4.1 wraps the final adaptive plan in a ResultQueryStageExec
    * whose subtree hangs off `.plan` (with Shuffle/BroadcastQueryStage
    * leaves below, each wrapping its exchange) — a plain TreeNode
    * traversal of a POST-execution plan sees exactly one leaf and no
    * exchanges, which silently turned every exchange-shape invariant
    * here into a vacuous pass. All audit inspections go through this
    * walk. */
  def allPlanNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      // persisted stages: the audited 100x pipelines persist() each
      // stage so ONE execution serves both the audit and the downstream
      // consumers — the real plan (and its exchange metrics) lives
      // behind the cache scan leaf
      case c: InMemoryTableScanExec => p +: walk(c.relation.cachedPlan)
      case _ => p +: p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Shuffle-exchange payload audit: names of text/embedding columns that
    * cross a shuffle boundary (must be empty). */
  def shuffledPayloadColumns(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // "payload"/"v" cover the audited queries' renamed binary/vector
    // columns (q116's PNG bytes, q119's cast embedding)
    def payload(names: Seq[String]): Seq[String] =
      names.filter(n =>
        n == "text" || n == "embedding" || n == "payload" || n == "v")
    allPlanNodes(df).collect {
      case e: ShuffleExchangeExec => payload(e.output.map(_.name))
    }.flatten.distinct
  }

  def hasCartesian(df: DataFrame): Boolean =
    allPlanNodes(df).exists(_.nodeName.contains("CartesianProduct"))

  /** Post-execution shuffle-exchange maxima of an executed plan:
    * (max records written through any one exchange, max dataSize bytes
    * through any one exchange, number of exchanges). Metric names are
    * matched loosely (Spark's write metrics are registered under
    * display names) so a rename degrades to 0 rather than crashing. */
  def exchangeMaxima(df: DataFrame): (Long, Long, Int) = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exs = allPlanNodes(df)
      .collect { case e: ShuffleExchangeExec => e }
    def metric(e: ShuffleExchangeExec, needle: String): Long =
      e.metrics.collect {
        case (k, m) if k.toLowerCase.contains(needle) ||
          m.name.exists(_.toLowerCase.contains(needle)) => m.value
      }.foldLeft(0L)(math.max)
    val rec = exs.map(metric(_, "records")).foldLeft(0L)(math.max)
    val bytes = exs.map(metric(_, "datasize")).foldLeft(0L)(math.max)
    (rec, bytes, exs.length)
  }

  /** 100x rotation (VERDICT r08 item 6): the minhash -> verify -> CC
    * dedup chain — the most shuffle-intensive family — against a 100x
    * replica corpus (~500k documents), recording the largest exchange
    * (records and bytes) of each stage for the BASELINE.md ledger plus
    * the same payload/cartesian/edge-bound invariants as the 10x audit.
    * Run: sbt "runMain graft.tools.ScaleAudit minhash100". */
  def minhash100(spark: SparkSession, src: String, out: String): Int = {
    buildCorpus(spark, src, out, copies = 100, period = 3)
    var failures = 0
    val d100 = spark.read.parquet(s"$out/documents.parquet")
    val nDocs = d100.count()

    def audit(name: String, df: DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val qe = df.queryExecution
      val rows = qe.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val leaked = shuffledPayloadColumns(df)
      val cart = hasCartesian(df)
      val (maxRec, maxBytes, nEx) = exchangeMaxima(df)
      val ok = leaked.isEmpty && !cart
      if (!ok) failures += 1
      println(f"[scale-100x] $name%-18s rows=$rows%-9d ${sec}%7.2f s  " +
        f"exchanges=$nEx max-exchange-rows=$maxRec%-10d " +
        f"max-exchange-MB=${maxBytes / 1e6}%9.1f  " +
        s"payload-through-shuffle=${if (leaked.isEmpty) "NONE" else leaked.mkString(",")}  " +
        s"cartesian=$cart  ${if (ok) "OK" else "FAIL"}")
      df
    }

    // stage 1: banded minhash candidate generation (id-only pairs).
    // persist() BEFORE the audit: the audit's own execution populates
    // the cache, so downstream consumers reuse it instead of re-running
    // the stage (the earlier audit-then-localCheckpoint pattern executed
    // every stage twice and under-reported its wall-clock)
    val cand = audit("minhash-cands",
      graft.dedup.Dedup.minhashCandidates(d100, bands = 8, rowsPerBand = 5)
        .persist())
    // stage 2: exact n-gram jaccard verification (candidate-driven
    // rejoin). The candidate-id broadcast is the zero-corpus-shuffle
    // fast path up to ~10M endpoints; beyond that the operator's
    // explicit fallback pays the semi-join shuffle instead of a driver
    // OOM — the audit exercises whichever side of the boundary the
    // corpus lands on and reports the choice.
    val nCand = cand.count()
    val bcastIds = nCand * 2 < 8000000L
    println(s"[scale-100x] candidates=$nCand -> broadcastIds=$bcastIds")
    val edges = audit("jaccard-verify",
      graft.dedup.Dedup.ngramJaccard(d100, cand, 5,
        broadcastIds = bcastIds).persist())
    val nEdges = edges.where(col("jaccard") >= 0.6).count()
    val edgeOk = nEdges < 1000000L
    if (!edgeOk) failures += 1
    println(s"[scale-100x] verified edges=$nEdges at 100x " +
      s"(driver union-find bound 1000000) ${if (edgeOk) "OK" else "FAIL"}")
    // stage 3: connected components -> cluster labels
    val cc = audit("dup-clusters",
      graft.dedup.Dedup.duplicateClusters(
        edges.where(col("jaccard") >= 0.6).select(col("a"), col("b"))))
    println(s"[scale-100x] corpus docs=$nDocs; " +
      s"clusters=${cc.select("cluster_id").distinct().count()}")
    failures
  }

  /** 100x rotation, second family: the embedding/ANN chain — SemDeDup,
    * sign-LSH cosine near-dup, and composed IVF+PQ top-k — against the
    * 100x corpus's 2M 64-d embeddings. The embedding family's documented
    * shape DOES move vectors through cell-/bucket-keyed exchanges (one
    * cell-keyed shuffle per self-join leg is the design; candidates are
    * ids); the invariant here is therefore a BOUNDED COUNT of
    * vector-carrying exchanges per stage plus the usual no-cartesian,
    * cell-size and candidate-linearity bounds, with exchange maxima
    * recorded for the ledger.
    * Run: sbt "runMain graft.tools.ScaleAudit ann100". */
  def ann100(spark: SparkSession, src: String, out: String): Int = {
    buildCorpus(spark, src, out, copies = 100, period = 3)
    var failures = 0
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val nVec = emb.count()

    def audit(name: String, df: DataFrame, maxVecExchanges: Int): DataFrame = {
      val t0 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val vecEx = shuffledPayloadColumns(df)
      val nVecEx = {
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        allPlanNodes(df).count {
          case e: ShuffleExchangeExec => e.output.exists(a =>
            a.name == "embedding" || a.name == "v" || a.name == "va" ||
              a.name == "vb" || a.name == "qv" || a.name == "cv")
          case _ => false
        }
      }
      val cart = hasCartesian(df)
      val (maxRec, maxBytes, nEx) = exchangeMaxima(df)
      val ok = nVecEx <= maxVecExchanges && !cart
      if (!ok) failures += 1
      println(f"[scale-100x-ann] $name%-16s rows=$rows%-9d ${sec}%7.2f s  " +
        f"exchanges=$nEx max-exchange-rows=$maxRec%-10d " +
        f"max-exchange-MB=${maxBytes / 1e6}%9.1f  " +
        s"vector-exchanges=$nVecEx (bound $maxVecExchanges, cols ${
          if (vecEx.isEmpty) "-" else vecEx.mkString(",")})  " +
        s"cartesian=$cart  ${if (ok) "OK" else "FAIL"}")
      df
    }

    // stage 1: SemDeDup — auto-scaled cell count keeps sum(|cell|^2)
    // linear. Vector-class exchange FLOOR is 2 (bound tightened from 4,
    // VERDICT r14 task 6, so a regression cannot hide under slack):
    //   (a) the cell-keyed self-join exchange ships the int8-QUANTIZED
    //       codes (`qv`) — this IS the certified q77 routing, 1/8th the
    //       float64 payload, and some vector representation must reach
    //       the intra-cell sweep by construction;
    //   (b) the float64 re-check joins raw vectors (`va`/`vb`) back BY
    //       ID for the band pairs only — candidate-driven, never
    //       corpus-×-corpus, and unavoidable because the uncertainty
    //       band is decided on exact cosines.
    // persist() before each audit: the audit execution populates the
    // cache so the downstream consumer (max-cell check / edge count)
    // does not re-run the stage
    val sd = audit("semdedup",
      graft.similarity.Similarity.semDedup(emb, tau = 0.3, seed = 42L)
        .persist(),
      maxVecExchanges = 2)
    val maxCell = sd.groupBy("cell").count().agg(max("count")).head().getLong(0)
    val cellOk = maxCell <= 6L * 4096L
    if (!cellOk) failures += 1
    println(s"[scale-100x-ann] semdedup max cell=$maxCell " +
      s"(target 4096, bound ${6L * 4096L}) ${if (cellOk) "OK" else "FAIL"}")

    // stage 2: sign-LSH cosine near-dup — 14 planes size buckets to
    // ~200k/16k ≈ 12 members (candidates stay O(corpus) while buckets
    // are non-trivial; 18 planes left them all singleton and the stage
    // audited an empty join); threshold matches q86's 0.35 so the
    // verify actually accepts the corpus's organic similarity pairs.
    // Over-cap buckets (if any) degrade to hub stars, never dropped.
    val nd = audit("cosine-neardup",
      graft.similarity.Similarity.cosineNearDupes(emb, threshold = 0.35,
        dim = 64, nPlanes = 14, numTables = 2).persist(),
      maxVecExchanges = 4)
    val nEdges = nd.count()
    val edgeOk = nEdges < 50000000L
    if (!edgeOk) failures += 1
    println(s"[scale-100x-ann] verified cosine pairs=$nEdges " +
      s"(linearity bound 50M) ${if (edgeOk) "OK" else "FAIL"}")

    // stage 3: composed IVF+PQ top-k — coarse cells cut rows scanned, PQ
    // codes cut per-row cost, WindowGroupLimit shortlists map-side
    val q = emb.where(col("vec_id") % 40000 === 0)
    audit("ivfpq-topk",
      graft.similarity.Similarity.ivfPqTopK(emb, q, k = 5, dim = 64,
        nCells = 64, nProbe = 8, m = 8, ksub = 64, shortlist = 48,
        seed = 42L), maxVecExchanges = 4)
    println(s"[scale-100x-ann] corpus vectors=$nVec queries=${q.count()}")
    failures
  }

  /** 100x rotation, third family: the edit-distance join's length
    * blocking at 500k docs with DEFAULT parameters. This is the corpus
    * shape that exposed the fixed-cap trap: ~2500 docs per 9-char
    * length band sat just UNDER the old 4096 default, so every bucket
    * stayed in the exact all-pairs regime and blocking went
    * corpus-quadratic (~600M pairs) while technically respecting the
    * per-bucket cap. The auto cap (32 x snmWindow = 512) pushes those
    * bands into the bounded sorted-neighborhood sweep; the audit pins
    * candidates under the exact+snm linear bound and records exchange
    * maxima. (The Levenshtein verify is not run at 100x — its cost is
    * linear in candidates and the 10x audit covers it.)
    * Run: sbt "runMain graft.tools.ScaleAudit editdist100". */
  def editdist100(spark: SparkSession, src: String, out: String): Int = {
    buildCorpus(spark, src, out, copies = 100, period = 3)
    var failures = 0
    val d100 = spark.read.parquet(s"$out/documents.parquet")
    val nDocs = d100.count()
    val cands = graft.dedup.Dedup.lengthBucketCandidates(d100, maxDist = 8)
      .persist()
    val t0 = System.nanoTime()
    val n = cands.queryExecution.toRdd.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val leaked = shuffledPayloadColumns(cands)
    val cart = hasCartesian(cands)
    val (maxRec, maxBytes, nEx) = exchangeMaxima(cands)
    // exact regime bound: sum over under-cap buckets of bucket^2 (each
    // <= 512 members); snm bound: nDocs x window x 2 (own + adjacent
    // bucket legs)
    val cap = 32L * 16L
    val bound = nDocs * cap + nDocs * 16L * 2L
    val ok = leaked.isEmpty && !cart && n <= bound
    if (!ok) failures += 1
    println(f"[scale-100x-ed] length-blocking docs=$nDocs candidates=$n " +
      f"(linear bound $bound) ${sec}%.2f s exchanges=$nEx " +
      f"max-exchange-rows=$maxRec max-exchange-MB=${maxBytes / 1e6}%.1f " +
      s"payload-through-shuffle=${if (leaked.isEmpty) "NONE" else leaked.mkString(",")} " +
      s"cartesian=$cart ${if (ok) "OK" else "FAIL"}")

    // planted MEGA-BAND (VERDICT r10 item 4): every doc forced into ONE
    // width-9 length band (text padded/cut to 400 chars; content
    // otherwise untouched so the simhash rank order stays organic) —
    // 500k rows in a single band, ~1000x the cap, the regime where the
    // pre-r11 single-window rank sorted the whole band in ONE task.
    // Gate: the candidate count equals the closed form EXACTLY —
    // one band of n equal-length docs yields n*W - W(W+1)/2 distinct
    // SNM pairs (every doc paired with its next W rank-neighbors, tail
    // truncated) and nothing else. Any rank duplication or gap (the
    // failure mode of an unfrozen range-partitioned rank — observed
    // before the localCheckpoint fix as 8.08M vs the true 8.00M) moves
    // this count; row-identity of the two-pass rank to the single-window
    // shape is additionally spec-pinned (EditDistanceSpec) on a
    // multi-partition diverse band, and the rank window's (pid, band)
    // partitioning keeps every task's sort to one range slice.
    locally {
      val mega = d100.select(col("doc_id"),
        rpad(substring(col("text"), 1, 400), 400, "x").as("text"))
        .localCheckpoint()
      val t0m = System.nanoTime()
      val snmW = 16L
      val c2 = graft.dedup.Dedup.lengthBucketCandidates(mega, maxDist = 8)
        .persist()
      val n2 = c2.queryExecution.toRdd.count()
      val secM = (System.nanoTime() - t0m) / 1e9
      val expectM = nDocs * snmW - snmW * (snmW + 1) / 2
      val (maxRecM, maxBytesM, nExM) = exchangeMaxima(c2)
      val okM = n2 == expectM
      if (!okM) failures += 1
      println(f"[scale-100x-ed] mega-band docs=$nDocs candidates=$n2 " +
        f"(expect exactly $expectM) ${secM}%.2f s exchanges=$nExM " +
        f"max-exchange-rows=$maxRecM max-exchange-MB=${maxBytesM / 1e6}%.1f " +
        s"${if (okM) "OK" else "FAIL"}")
      c2.unpersist()
    }
    failures
  }

  /** Names + types of ARRAY/BINARY columns crossing any shuffle exchange
    * — the generic "no wide payload through an exchange" probe (feature
    * vectors, decoded pixels, media bytes), complementing the name-based
    * [[shuffledPayloadColumns]]. */
  def shuffledWideColumns(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, BinaryType}
    allPlanNodes(df).collect {
      case e: ShuffleExchangeExec =>
        e.output.filter(a => a.dataType.isInstanceOf[ArrayType] ||
          a.dataType == BinaryType).map(a => s"${a.name}:${a.dataType.simpleString}")
    }.flatten.distinct
  }

  /** 100x rotation, eighth family (VERDICT r10 item 5a): the
    * moments/covariance engine — the numerical workhorse under q03/q04/
    * q149 and every TICA/VAMP estimator — at 10M rows x 8 feature dims
    * (the sf0.1 event table replicated to 100 trajectory universes,
    * generated MAP-SIDE so the audit measures the operator, not corpus
    * I/O). Invariants (count-based — the partial-buffer exchange
    * legitimately carries array-typed MomentsBuf columns, so types can't
    * distinguish partials from row data):
    *   1. unlagged fit (q03 shape): NO exchange ships more than
    *      O(partitions) rows — the 10M feature vectors reduce map-side
    *      via the Chan-combine aggregator, only per-partition buffers
    *      move;
    *   2. lagged chain (q04 shape — Lag.pairs then fit): EXACTLY ONE
    *      row-granular exchange (the lag-alignment window, carrying
    *      exactly n rows), everything above it partial-combined;
    *   3. per-key fit (the CV-fold shape, fitByKey): partial aggregation
    *      holds per key — agg exchange rows <= partitions x keys beyond
    *      the one lag window.
    * Run: sbt "runMain graft.tools.ScaleAudit moments100". */
  def moments100(spark: SparkSession, src: String): Int = {
    var failures = 0
    val copies = 100
    val parts = spark.sparkContext.defaultParallelism
    val ev0 = graft.core.Trajectories.events(spark, src)
      .select(col("user_id").cast("long").as("uid"),
        col("ts").cast("long").as("t"), col("value").cast("double").as("v"))
    val nBase = ev0.count()
    // map-side replication: 100 universes, 8 deterministic feature dims
    val feats = array((0 until 8).map(i =>
      col("v") * (i + 1) + pmod(col("t") + i, lit(97)).cast("double")): _*)
    val traj = spark.range(copies).crossJoin(ev0)
      .select((col("uid") + col("id") * 100000000L).as(graft.core.Trajectories.TrajCol),
        col("t").as(graft.core.Trajectories.TimeCol), feats.as(graft.core.Trajectories.FeatCol))
    val n = nBase * copies

    // The partial-buffer exchange legitimately carries ARRAY columns (a
    // MomentsBuf is d + 3d^2 doubles), so the probe is COUNT-based: a
    // "full" exchange ships ~n rows (row-granular data — allowed only
    // where declared, and then carrying exactly n rows, the lag window);
    // every other exchange must be partial-combined summary rows.
    def audit(name: String, ds: org.apache.spark.sql.Dataset[_],
              expectRows: Long, fullExchangesAllowed: Int,
              partialRowBound: Long): Unit = {
      val df = ds.toDF()
      val t0 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exs = allPlanNodes(df).collect { case e: ShuffleExchangeExec => e }
      def recs(e: ShuffleExchangeExec): Long = e.metrics.collect {
        case (k, m) if k.toLowerCase.contains("records") ||
          m.name.exists(_.toLowerCase.contains("records")) => m.value
      }.foldLeft(0L)(math.max)
      val recsList = exs.map(recs)
      val full = recsList.filter(_ > partialRowBound)
      // any full exchange must be the lag window: exactly n rows, never
      // an aggregation that failed to combine map-side
      val fullOk = full.length <= fullExchangesAllowed && full.forall(_ == n)
      val cart = hasCartesian(df)
      val ok = rows == expectRows && fullOk && !cart
      if (!ok) failures += 1
      println(f"[scale-100x-mom] $name%-13s rows=$rows%-9d ${sec}%7.2f s  " +
        f"exchange-rows=[${recsList.sorted.reverse.mkString(",")}]  " +
        f"full-exchanges=${full.length} (bound $fullExchangesAllowed, each must = $n)  " +
        f"partial-bound=$partialRowBound  cartesian=$cart  " +
        s"${if (ok) "OK" else "FAIL"}")
    }

    // 1. q03 shape: unlagged covariance of 10M 8-dim rows — NO full
    //    exchange anywhere: the vectors reduce map-side, only
    //    O(partitions) Chan-combinable buffers move
    val unlagged = traj
      .select(col(graft.core.Trajectories.FeatCol).as("x"))
      .withColumn("y", col("x"))
    audit("cov-fit", graft.agg.Covariance.fitPlan(unlagged),
      expectRows = 1L, fullExchangesAllowed = 0, partialRowBound = 4L * parts)

    // 2. q04 shape: lag pairing (the ONE unavoidable row-granular
    //    exchange — co-locating consecutive trajectory rows) then fit
    val pairs = graft.lag.Lag.pairs(traj, tau = 2)
    audit("lag-cov-chain", graft.agg.Covariance.fitPlan(pairs),
      expectRows = 1L, fullExchangesAllowed = 1, partialRowBound = 4L * parts)

    // 3. CV-fold shape: 5 folds in one pass (fitByKey's plan) — partials
    //    stay per (partition, key)
    locally {
      import spark.implicits._
      val keyed = pairs.withColumn("k", pmod(col("traj_id"), lit(5)))
      val agg = new graft.agg.MomentsAggregator(true)
      val byKey = keyed.select(
          col("k").cast("long").as("k"),
          col("x").cast("array<double>").as("x"),
          col("y").cast("array<double>").as("y"),
          lit(1.0).as("w"))
        .as[(Long, Array[Double], Array[Double], Double)]
        .groupByKey(_._1)
        .mapValues { case (_, x, y, w) => graft.agg.LagRow(x, y, w) }
        .agg(agg.toColumn)
      audit("cov-by-key", byKey,
        expectRows = 5L, fullExchangesAllowed = 1,
        partialRowBound = 5L * 4L * parts)
    }
    println(s"[scale-100x-mom] rows=$n dims=8 universes=$copies parts=$parts")
    failures
  }

  /** 100x rotation, ninth family (VERDICT r10 item 5b): the multimodal
    * decode chain at 500k synthetic PNGs — q116 (decode -> 8x8 thumbnail
    * -> average-hash -> hash-group dedup) and q110 (decode -> stride
    * resize -> pixel aggregate). Invariants:
    *   1. q116: image bytes and decoded pixel arrays NEVER cross an
    *      exchange (decode+hash are map-side); the dedup groupBy ships
    *      partial-combined (hash, count, min-id) rows bounded by
    *      partitions x distinct-hash-values, orders of magnitude under
    *      the doc count;
    *   2. q110: ZERO shuffle exchanges — decode/resize/aggregate is a
    *      pure map pipeline, one output row per doc.
    * Run: sbt "runMain graft.tools.ScaleAudit multimodal100". */
  def multimodal100(spark: SparkSession, src: String, out: String): Int = {
    buildCorpus(spark, src, out, copies = 100, period = 3)
    var failures = 0
    val d100 = spark.read.parquet(s"$out/documents.parquet")
    val nDocs = d100.count()

    // q116 chain on the 100x ids (base = doc_id % 37 keeps the hash
    // group structure organic: every group replicates ~100x)
    val mkPng = udf { (docId: Long) =>
      val base = docId % 37
      val w = (6 + base % 5).toInt
      val h = (4 + (base * 3) % 4).toInt
      val px = Array.tabulate(w * h)(i => ((base * 31 + i * 7) % 256).toByte)
      graft.multimodal.PngCodec.encode(w, h, 1, px)
    }
    locally {
      val withPng = d100.select(col("doc_id"), mkPng(col("doc_id")).as("payload"))
      val thumb = graft.multimodal.Multimodal.resizePixelsDyn(col("decoded"),
        col("decoded.width"), col("decoded.height"), 8, 8)
      val tp = graft.multimodal.Multimodal.decodeImages(withPng, "payload")
        .select(col("doc_id"),
          transform(thumb, p => round(p * lit(255.0f)).cast("long")).as("tp"))
        .withColumn("avg64",
          aggregate(col("tp"), lit(0L), (a, p) => a + p).cast("double") / lit(64.0))
      def half(off: Int): org.apache.spark.sql.Column = aggregate(
        zip_with(slice(col("tp"), off + 1, 32), sequence(lit(0), lit(31)),
          (p, i) => when(p.cast("double") > col("avg64"), pow(lit(2.0), i))
            .otherwise(lit(0.0))),
        lit(0.0), (a, x) => a + x).cast("long")
      val dedup = tp.select(col("doc_id"), half(0).as("ahash_lo"), half(32).as("ahash_hi"))
        .groupBy("ahash_lo", "ahash_hi")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
      val t0 = System.nanoTime()
      val rows = dedup.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val wide = shuffledWideColumns(dedup)
      val (maxRec, maxBytes, nEx) = exchangeMaxima(dedup)
      // 37 base patterns -> <= 37 distinct hashes; partials <= parts x 37
      // (10x headroom for AQE partition counts)
      val bound = 370L * spark.sparkContext.defaultParallelism
      val ok = wide.isEmpty && maxRec <= bound && rows > 0 && rows <= 37
      if (!ok) failures += 1
      println(f"[scale-100x-mm] ahash-dedup   docs=$nDocs groups=$rows ${sec}%7.2f s  " +
        f"exchanges=$nEx max-exchange-rows=$maxRec (bound $bound)  " +
        f"max-exchange-MB=${maxBytes / 1e6}%7.1f  " +
        s"wide-through-shuffle=${if (wide.isEmpty) "NONE" else wide.mkString(",")}  " +
        s"${if (ok) "OK" else "FAIL"}")
    }

    // q110 chain: decode -> resize -> aggregate, map-only
    locally {
      val mk = udf { (docId: Long) =>
        val w = (3 + docId % 6).toInt
        val h = (2 + (docId * 7) % 5).toInt
        val px = Array.tabulate(w * h)(i => ((docId * 31 + i * 7) % 256).toByte)
        graft.multimodal.PngCodec.encode(w, h, 1, px)
      }
      val withPng = d100.select(col("doc_id"), mk(col("doc_id")).as("payload"))
      val resized = graft.multimodal.Multimodal.decodeImages(withPng, "payload")
        .select(col("doc_id"),
          graft.multimodal.Multimodal.resizePixelsDyn(col("decoded"),
            col("decoded.width"), col("decoded.height"), 4, 3).as("thumb"))
        .select(col("doc_id"),
          size(col("thumb")).cast("long").as("n_px"),
          aggregate(col("thumb"), lit(0L),
            (acc, p) => acc + round(p * 255.0f).cast("long")).as("px_sum"))
      val t0 = System.nanoTime()
      val rows = resized.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val (maxRec, _, nEx) = exchangeMaxima(resized)
      val ok = nEx == 0 && rows == nDocs
      if (!ok) failures += 1
      println(f"[scale-100x-mm] decode-resize docs=$nDocs rows=$rows ${sec}%7.2f s  " +
        f"exchanges=$nEx (bound 0) max-exchange-rows=$maxRec  " +
        s"${if (ok) "OK" else "FAIL"}")
    }
    failures
  }

  /** 100x rotation, fourth family (VERDICT r09 item 5, text half): the
    * chunk-level dedup and the BPE corpus scan at 500k docs.
    *
    * Chunk dedup runs the 100 TB shape (`chunkDedupByHash`, oracle-gated
    * at driver SFs as q258 against q166's exact-text replay): chunk
    * identity crosses the shuffle as a 128-bit fingerprint and the
    * document text crosses exactly ONE exchange (the reassembly join) —
    * the invariant counted here — vs two full text exchanges in the
    * exact-text variant.
    *
    * BPE is audited as its two scale stages: (1) the one corpus scan
    * reducing text to the word-frequency table — the `text` payload must
    * never cross a shuffle (only map-side-combined (w, c) rows do) and
    * the exchange row count is pinned against the distinct-vocabulary
    * size (NOT the corpus word count: partial aggregation must be
    * doing its job); (2) the broadcast-ranks encode scan — ZERO shuffle
    * exchanges, one output row per doc.
    * Run: sbt "runMain graft.tools.ScaleAudit text100". */
  def text100(spark: SparkSession, src: String, out: String): Int = {
    buildCorpus(spark, src, out, copies = 100, period = 3)
    var failures = 0
    val d100 = spark.read.parquet(s"$out/documents.parquet")
    val nDocs = d100.count()

    def textColumns(df: DataFrame): Seq[(String, Int)] = {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      // ws = the split word array (the payload in another costume);
      // chunk = the materialized chunk text
      val names = Set("text", "ws", "chunk")
      val hits = allPlanNodes(df).collect {
        case e: ShuffleExchangeExec if e.output.exists(a => names(a.name)) =>
          e.output.map(_.name).filter(names).mkString(",")
      }
      hits.groupBy(identity).view.mapValues(_.size).toSeq
    }

    // stage 1: hash-keyed chunk dedup
    locally {
      val t0 = System.nanoTime()
      val cd = graft.dedup.Dedup.chunkDedupByHash(d100, chunkWords = 20)
      val rows = cd.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val textEx = textColumns(cd)
      val nTextEx = textEx.map(_._2).sum
      val cart = hasCartesian(cd)
      val (maxRec, maxBytes, nEx) = exchangeMaxima(cd)
      val ok = nTextEx <= 1 && !cart && rows == nDocs
      if (!ok) failures += 1
      println(f"[scale-100x-text] chunk-dedup-hash  rows=$rows%-9d ${sec}%7.2f s  " +
        f"exchanges=$nEx max-exchange-rows=$maxRec%-10d " +
        f"max-exchange-MB=${maxBytes / 1e6}%9.1f  " +
        s"text-exchanges=$nTextEx (bound 1, cols ${
          if (textEx.isEmpty) "-" else textEx.map(t => s"${t._1}x${t._2}").mkString(";")})  " +
        s"cartesian=$cart  ${if (ok) "OK" else "FAIL"}")
    }

    // stage 2: the BPE corpus scan (word-frequency table)
    val vocabBound = locally {
      val grouped = graft.text.Bpe.groupedWords(d100, "text").persist()
      val t0 = System.nanoTime()
      val nDistinct = grouped.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val leaked = shuffledPayloadColumns(grouped)
      val (maxRec, maxBytes, nEx) = exchangeMaxima(grouped)
      // partial-aggregation invariant: the exchange ships at most the
      // per-partition distinct vocab (32 partitions x nDistinct worst
      // case), NEVER the raw corpus word stream. The corpus has ~27M
      // word occurrences; a missing map-side combine would ship all of
      // them.
      val totalWords = d100.select(sum(size(split(col("text"), "\\s+"))))
        .head().getLong(0)
      val ok = leaked.isEmpty && maxRec < totalWords / 2
      if (!ok) failures += 1
      println(f"[scale-100x-text] bpe-word-freqs    rows=$nDistinct%-9d ${sec}%7.2f s  " +
        f"exchanges=$nEx max-exchange-rows=$maxRec%-10d " +
        f"max-exchange-MB=${maxBytes / 1e6}%9.1f  " +
        f"corpus-words=$totalWords (combine bound ${totalWords / 2})  " +
        s"payload-through-shuffle=${if (leaked.isEmpty) "NONE" else leaked.mkString(",")}  " +
        s"${if (ok) "OK" else "FAIL"}")
      grouped
    }
    // the truncated training table + driver merge loop on the REAL 100x
    // vocabulary (Zipf head), then the encode scan
    val wf = vocabBound.orderBy(col("c").desc, col("w").asc).limit(65536)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (model, _) = graft.text.Bpe.trainFromFrequencies(wf, numMerges = 32)
    locally {
      val t0 = System.nanoTime()
      val tc = graft.text.Bpe.tokenCounts(d100, model)
      val rows = tc.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val nEx = allPlanNodes(tc).count(_.isInstanceOf[ShuffleExchangeExec])
      val ok = nEx == 0 && rows == nDocs
      if (!ok) failures += 1
      println(f"[scale-100x-text] bpe-encode-scan   rows=$rows%-9d ${sec}%7.2f s  " +
        s"exchanges=$nEx (bound 0)  ${if (ok) "OK" else "FAIL"}")
    }
    println(s"[scale-100x-text] corpus docs=$nDocs")
    failures
  }

  /** 100x rotation, fourth family (streaming half): the q163/q227
    * watermarked stream-stream interval joins at 10x event volume
    * (~400k events, 10 independent user universes) fed in event-time
    * order across 30 daily micro-batches. The scale claim under test is
    * the one that matters at 100 TB/day: join state is bounded by the
    * WATERMARK HORIZON (events within the last delay+window of event
    * time), not by stream length — cumulative input grows 30x across
    * the run while per-batch state must stay pinned near one day's
    * volume. Reads the REAL `StreamingQueryProgress.stateOperators`
    * rows/memory per batch (the StateGrowthSpec instrument) and records
    * the maxima for the BASELINE.md ledger.
    * Run: sbt "runMain graft.tools.ScaleAudit streaming100". */
  def streaming100(spark: SparkSession, src: String): Int = {
    var failures = 0
    val copies = 10
    val ev0 = graft.core.Trajectories.events(spark, src)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        expr("ts div 1000").as("tsu"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // 10 independent user universes: joins never cross copies, so match
    // volume scales linearly with the corpus as it would under real
    // traffic growth
    val ev = (0 until copies).flatMap { k =>
      ev0.map { case (eid, uid, tsu, ty) =>
        (eid + k * 100000000L, uid + k * 100000000L, tsu, ty)
      }
    }.sortBy(_._3)
    val tmin = ev.head._3
    val tmax = ev.last._3
    val dayUs = 86400000000L
    val nBatches = ((tmax - tmin) / dayUs + 1).toInt
    println(s"[scale-100x-stream] events=${ev.length} days=$nBatches " +
      s"(~${ev.length / nBatches}/day)")

    Seq("inner", "leftOuter").foreach { joinType =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", 4)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val memC = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val memP = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val joined = graft.streaming.Streaming.streamingIntervalJoin(
        memC.toDF().toDF("event_id", "user_id", "tsu"),
        memP.toDF().toDF("event_id", "user_id", "tsu"),
        windowMicros = 3600000000L, joinType = joinType)
      val sink = "audit_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      val stateRows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val stateBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val batchRows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      try {
        (0 until nBatches).foreach { k =>
          val lo = tmin + k.toLong * dayUs
          val hi = lo + dayUs
          val slice = ev.filter(e => e._3 >= lo && e._3 < hi)
          val cc = slice.filter(_._4 == "click").map(e => (e._1, e._2, e._3))
          val pp = slice.filter(_._4 == "purchase").map(e => (e._1, e._2, e._3))
          if (cc.nonEmpty) memC.addData(cc: _*)
          if (pp.nonEmpty) memP.addData(pp: _*)
          query.processAllAvailable()
          val p = query.recentProgress.reverse
            .find(p => p.stateOperators.nonEmpty && p.numInputRows > 0)
            .orElse(query.recentProgress.reverse.find(_.stateOperators.nonEmpty))
          stateRows += p.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
          stateBytes += p.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)
          batchRows += slice.length.toLong
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val emitted = s.table(sink).count()
      val maxState = stateRows.max
      val maxDay = batchRows.max
      val cumulative = batchRows.sum
      // bounded-by-horizon: state holds at most ~the current batch plus
      // the not-yet-evicted tail of the previous one (watermark advances
      // at batch END, eviction lands the following batch) — 3x one
      // day's rows is generous; linear growth to the 30x cumulative
      // volume is the failure mode this pins against
      val horizonOk = maxState <= 3L * maxDay
      // explicitly flat, not drifting: the max over the last 5 batches
      // must not exceed the max over batches 5-10 by more than 50%.
      // Guarded on run length (ADVICE r10): a short corpus (< 10 daily
      // batches) has no early/late windows to compare — fall back to the
      // horizon bound alone instead of crashing on an empty .max
      val early = stateRows.slice(5, 10).reduceOption(_ max _).getOrElse(0L)
      val late = stateRows.takeRight(5).reduceOption(_ max _).getOrElse(0L)
      val flatOk = stateRows.length < 10 || late <= early * 3 / 2
      val ok = horizonOk && flatOk
      if (!ok) failures += 1
      println(f"[scale-100x-stream] $joinType%-9s batches=$nBatches " +
        f"input=$cumulative emitted=$emitted ${sec}%6.1f s  " +
        f"max-state-rows=$maxState (day-max=$maxDay, bound ${3L * maxDay})  " +
        f"max-state-MB=${stateBytes.max / 1e6}%.1f  " +
        s"early5-10/late-max=$early/$late  " +
        s"${if (ok) "OK" else "FAIL"}")
      println(s"[scale-100x-stream] $joinType state-rows per batch: " +
        stateRows.mkString(","))
    }
    failures
  }

  /** 100x rotation, fifth family: the near-dup graph's DISTRIBUTED
    * connected-components path. The organic 100x candidate graph (~225k
    * verified-threshold edges) sits BELOW the 1M-edge driver union-find
    * crossover, so every prior audit only ever exercised the driver
    * path. This audit replicates the organic candidate set across 10
    * disjoint id universes (~2M+ undirected edges — components can
    * never cross universes, so the graph structure stays organic),
    * which crosses the crossover ORGANICALLY and runs the
    * label-propagation loop for real. Invariants:
    *   1. the distributed labels are IDENTICAL to driver union-find
    *      labels on the SAME edge set (threshold forced high) — the
    *      two paths must be indistinguishable to a caller,
    *   2. convergence within maxIter (the loop fails loud itself),
    *   3. per-path wall-clock recorded for the ledger (the crossover
    *      constant is a documented tradeoff, not a guess).
    * Run: sbt "runMain graft.tools.ScaleAudit graph100". */
  def graph100(spark: SparkSession, src: String, out: String): Int = {
    buildCorpus(spark, src, out, copies = 100, period = 3)
    var failures = 0
    val d100 = spark.read.parquet(s"$out/documents.parquet")
    val cand = graft.dedup.Dedup.minhashCandidates(d100, bands = 8, rowsPerBand = 5)
      .persist()
    val nCand = cand.count()
    // 10 disjoint universes: ids offset by k*10^10 (far above any real
    // doc id), so the union graph is 10 organic copies side by side
    val universes = 10
    val edges = spark.range(universes).crossJoin(cand)
      .select((col("a") + col("id") * 10000000000L).as("a"),
        (col("b") + col("id") * 10000000000L).as("b"))
      .persist()
    val nEdges = edges.count()
    cand.unpersist()
    println(s"[scale-100x-graph] organic candidates=$nCand -> " +
      s"${universes}-universe edges=$nEdges (driver crossover 1000000)")

    def run(name: String, threshold: Long): DataFrame = {
      val t0 = System.nanoTime()
      val labels = graft.dedup.Dedup.duplicateClusters(edges,
        driverEdgeThreshold = threshold).persist()
      val n = labels.count()
      val nClusters = labels.select("cluster_id").distinct().count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale-100x-graph] $name%-12s nodes=$n%-9d clusters=$nClusters%-8d ${sec}%7.2f s")
      labels
    }
    // the real path selection at this edge count: distributed label-prop
    val dist = run("distributed", 1000000L)
    // the reference answer: driver union-find forced on the same edges
    val drv = run("union-find", Long.MaxValue)
    val mismatches = dist.as("d")
      .join(drv.as("u"), col("d.id") === col("u.id"), "full")
      .where(col("d.cluster_id").isNull || col("u.cluster_id").isNull ||
        col("d.cluster_id") =!= col("u.cluster_id"))
      .count()
    val ok = mismatches == 0
    if (!ok) failures += 1
    println(s"[scale-100x-graph] label equality distributed==union-find: " +
      s"mismatches=$mismatches ${if (ok) "OK" else "FAIL"}")
    dist.unpersist(); drv.unpersist()

    // PageRank over the same 2.25M-edge graph: the Pregel-style path
    // (q259's shape, the organic selection past the 1M-edge driver
    // bound) against the driver power iteration as the reference
    // answer. Both stop at L-inf 1e-9, leaving each within
    // ~tol/(1-beta) ~ 6.7e-9 of the fixpoint — parity bound 1e-7.
    locally {
      val t0 = System.nanoTime()
      val (prDist, resid, iters) = graft.dedup.Dedup.pageRankDistributed(edges)
      prDist.persist(); val nRanks = prDist.count()
      val secDist = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val eSeq = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val (prDrv, _, _) = graft.dedup.Dedup.pageRank(eSeq)
      val secDrv = (System.nanoTime() - t1) / 1e9
      val drvB = spark.sparkContext.broadcast(prDrv)
      val maxDev = prDist.select(col("id"), col("rank")).rdd
        .map(r => math.abs(r.getDouble(1) - drvB.value(r.getLong(0))))
        .max()
      val prOk = maxDev <= 1e-7 && nRanks == prDrv.size && resid <= 1e-9
      if (!prOk) failures += 1
      println(f"[scale-100x-graph] pagerank     nodes=$nRanks%-9d iters=$iters " +
        f"dist=${secDist}%7.2f s drv=${secDrv}%7.2f s  " +
        f"max-parity-dev=$maxDev%.2e (bound 1e-7)  ${if (prOk) "OK" else "FAIL"}")
      prDist.unpersist()
    }
    edges.unpersist()
    failures
  }

  /** 100x rotation, fifth family (substring half): cross-document
    * exact-substring dedup (Lee et al. 2021) at 500k docs — BOTH steps,
    * the detect (`duplicateWindowStats`, q92's shape) and the trim
    * (`removeDuplicateSpans`, q93's shape). This family explodes the
    * corpus to one row per k-word window (~27M rows at 100x), the
    * largest intermediate of any operator here; the scale claims under
    * test: the window table shuffles 16-char hashes + positions ONLY
    * (never text/ws/chunk), no cartesian anywhere, detect output is one
    * row per doc, and trim reconstructs from the ORIGINAL doc via one
    * doc-keyed join. Exchange maxima recorded for the ledger.
    * Run: sbt "runMain graft.tools.ScaleAudit substring100". */
  def substring100(spark: SparkSession, src: String, out: String): Int = {
    buildCorpus(spark, src, out, copies = 100, period = 3)
    var failures = 0
    val d100 = spark.read.parquet(s"$out/documents.parquet")
    val nDocs = d100.count()

    def audit(name: String, df: DataFrame, textBound: Int): Unit = {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val t0 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val names = Set("text", "ws", "chunk", "kept", "cleaned", "words")
      val textEx = allPlanNodes(df).count {
        case e: ShuffleExchangeExec => e.output.exists(a => names(a.name))
        case _ => false
      }
      val cart = hasCartesian(df)
      val (maxRec, maxBytes, nEx) = exchangeMaxima(df)
      val ok = textEx <= textBound && !cart && rows == nDocs
      if (!ok) failures += 1
      println(f"[scale-100x-substr] $name%-14s rows=$rows%-9d ${sec}%7.2f s  " +
        f"exchanges=$nEx max-exchange-rows=$maxRec%-10d " +
        f"max-exchange-MB=${maxBytes / 1e6}%9.1f  " +
        s"text-exchanges=$textEx (bound $textBound)  cartesian=$cart  " +
        s"${if (ok) "OK" else "FAIL"}")
    }

    // detect: per-doc duplicated-window fraction. Text reaches the plan
    // only at the scan; nothing textual may cross any exchange.
    audit("window-stats", graft.dedup.Dedup.duplicateWindowStats(d100, k = 10),
      textBound = 0)
    // trim: the reconstruction join is doc-keyed — the kept-words array
    // crosses at most the one final exchange if AQE plans it as a
    // shuffle join (organically it broadcasts the start table; bound 1
    // tolerates either)
    audit("span-trim", graft.dedup.Dedup.removeDuplicateSpans(d100, k = 10),
      textBound = 1)
    println(s"[scale-100x-substr] corpus docs=$nDocs")
    failures
  }

  /** 100x rotation, family 6: the temporal-join primitives at 100x
    * event volume (~4M rows, 100 disjoint user universes). The scale
    * claims under test are the ones the Joins scaladocs make:
    *   - all three as-of variants (backward/forward/nearest) are the
    *     union-tag single-window decomposition — ZERO join operators,
    *     EXACTLY ONE shuffle exchange, and that exchange ships exactly
    *     |L| + |R| rows (every row crosses once; nothing fans out),
    *   - rangeJoin is a bucket-keyed hash/sort-merge equi-join — no
    *     cartesian, no nested loop — with interval replication bounded
    *     by ceil(width/bucketWidth)+1 = 2 buckets here (universe-offset
    *     values keep the interval matching per-universe, so output
    *     scales linearly in copies as real per-tenant traffic would).
    * Run: sbt "runMain graft.tools.ScaleAudit asof100". */
  def asof100(spark: SparkSession, src: String): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    var failures = 0
    val copies = 100
    val ev0 = graft.core.Trajectories.events(spark, src)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id").cast("long"), expr("ts div 1000").as("tsu"),
        col("event_type"))
    val ev = spark.range(copies).crossJoin(ev0)
      .select((col("user_id") + col("id") * 100000000L).as("user_id"),
        col("tsu"), col("event_type"), col("id").as("uni"))
      .localCheckpoint() // inputs materialized: the replication join must
                         // not pollute the audited operator plans
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("tsu"), col("uni")).localCheckpoint()
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("ptsu"), col("uni"),
        col("tsu").as("pay_t")).localCheckpoint()
    val nL = clicks.count(); val nR = purch.count()
    println(s"[scale-100x-asof] clicks=$nL purchases=$nR (100 universes)")

    def auditAsof(name: String, df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val nodes = allPlanNodes(df)
      val joins = nodes.count(_.getClass.getSimpleName.contains("Join"))
      val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
      val (maxRec, maxBytes, _) = exchangeMaxima(df)
      val ok = joins == 0 && exchanges == 1 && maxRec == nL + nR && rows == nL
      if (!ok) failures += 1
      println(f"[scale-100x-asof] $name%-14s rows=$rows%-9d ${sec}%7.2f s  " +
        f"joins=$joins (bound 0)  exchanges=$exchanges (bound 1)  " +
        f"exchange-rows=$maxRec (expect ${nL + nR})  " +
        f"exchange-MB=${maxBytes / 1e6}%7.1f  ${if (ok) "OK" else "FAIL"}")
    }
    auditAsof("asof-backward",
      graft.operators.Joins.asofJoinStrict(clicks, purch, "user_id", "tsu", "ptsu"))
    auditAsof("asof-forward",
      graft.operators.Joins.asofJoinForwardStrict(clicks, purch, "user_id", "tsu", "ptsu"))
    auditAsof("asof-nearest",
      graft.operators.Joins.asofJoinNearest(clicks, purch, "user_id", "tsu", "ptsu"))

    // skew-safe as-of (q260's shape) under a PLANTED ultra-hot key:
    // universe 0's clicks replicated 100x more onto ONE synthetic user
    // (~2M rows on a single key — the regime where the plain shape must
    // sort one key's whole history in one partition). Gates: the skew
    // decomposition's output is row-identical to the plain single-window
    // shape on the same inputs; the plan has ZERO join operators and
    // ZERO broadcast exchanges (the r10 shape force-broadcast a
    // data-dependent carry table — VERDICT r10 item 1); and the big
    // (key, bucket) exchange carries |L|+|R| real rows plus at most one
    // seed per occupied (key, bucket) pair (the carry-cardinality
    // invariant).
    locally {
      val hotL = spark.range(100).crossJoin(
          ev.where(col("event_type") === "click" && col("uni") === 0))
        .select((col("tsu") + col("id")).as("tsu"), lit(-1L).as("user_id"))
      val hotR = spark.range(100).crossJoin(
          ev.where(col("event_type") === "purchase" && col("uni") === 0))
        .select((col("tsu") + col("id")).as("ptsu"), lit(-1L).as("user_id"))
      val l2 = clicks.select(col("user_id"), col("tsu")).unionByName(hotL)
        .withColumn("event_id", monotonically_increasing_id())
        .localCheckpoint()
      val r2 = purch.select(col("user_id"), col("ptsu"), col("pay_t"))
        .unionByName(hotR.select(col("user_id"), col("ptsu"),
          col("ptsu").as("pay_t")))
        // dedupe (key, time) so equal-time tie-resolution cannot differ
        .groupBy("user_id", "ptsu").agg(max(col("pay_t")).as("pay_t"))
        .localCheckpoint()
      val nL2 = l2.count(); val nR2 = r2.count()
      val dayUs = 86400000000L
      val t0 = System.nanoTime()
      val skew = graft.operators.Joins.asofJoinStrictSkew(
        l2, r2, "user_id", "tsu", "ptsu", bucketWidth = dayUs)
      skew.persist()
      val rows = skew.queryExecution.toRdd.count()
      val secSkew = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val plain = graft.operators.Joins.asofJoinStrict(
        l2, r2, "user_id", "tsu", "ptsu").persist()
      plain.count()
      val secPlain = (System.nanoTime() - t1) / 1e9
      val mism = skew.select(col("event_id"),
          col("__match.pay_t").as("m")).as("a")
        .join(plain.select(col("event_id"), col("__match.pay_t").as("m")).as("b"),
          col("a.event_id") === col("b.event_id"), "full")
        .where(col("a.event_id").isNull || col("b.event_id").isNull ||
          (col("a.m").isNull =!= col("b.m").isNull) ||
          (col("a.m").isNotNull && col("a.m") =!= col("b.m")))
        .count()
      val (maxRec, maxBytes, nEx) = exchangeMaxima(skew)
      val hotRows = nL2 + nR2 - nL - nR
      // carry-cardinality invariant: the only rows beyond |L|+|R| through
      // ANY exchange are the carry seeds, bounded by occupied (key, day)
      // pairs — summary-sized however hot a key is
      val occupied = l2.select(col("user_id"), floor(col("tsu") / dayUs).as("bk"))
        .unionByName(r2.select(col("user_id"), floor(col("ptsu") / dayUs).as("bk")))
        .distinct().count()
      val skewNodes = allPlanNodes(skew)
      val nJoins = skewNodes.count(_.getClass.getSimpleName.contains("Join"))
      val nBcast = skewNodes.count(
        _.getClass.getSimpleName.contains("BroadcastExchange"))
      val ok = mism == 0 && rows == nL2 && nJoins == 0 && nBcast == 0 &&
        maxRec >= nL2 + nR2 && maxRec <= nL2 + nR2 + occupied
      if (!ok) failures += 1
      println(f"[scale-100x-asof] asof-skew      rows=$rows%-9d ${secSkew}%7.2f s " +
        f"(plain ${secPlain}%6.2f s)  hot-key-rows=$hotRows  " +
        f"joins=$nJoins (bound 0)  broadcasts=$nBcast (bound 0)  " +
        f"exchanges=$nEx exchange-rows=$maxRec " +
        f"(bound ${nL2 + nR2}+$occupied seeds)  " +
        f"exchange-MB=${maxBytes / 1e6}%7.1f  " +
        f"mismatches-vs-plain=$mism  ${if (ok) "OK" else "FAIL"}")

      // nearest-skew composition on the same hot-key inputs: row-identity
      // to the plain nearest shape, and since r15's fused single-pipeline
      // rewrite ZERO joins and ZERO broadcasts — both carry directions
      // ride one (key, bucket) exchange whose only rows beyond |L|+|R|
      // are the two seed kinds (≤ 2× occupied (key, bucket) pairs)
      val t2 = System.nanoTime()
      val nearSkew = graft.operators.Joins.asofJoinNearestSkew(
        l2, r2, "user_id", "tsu", "ptsu", bucketWidth = dayUs).persist()
      val rowsNear = nearSkew.queryExecution.toRdd.count()
      val secNear = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val nearPlain = graft.operators.Joins.asofJoinNearest(
        l2, r2, "user_id", "tsu", "ptsu").persist()
      nearPlain.count()
      val secNearPlain = (System.nanoTime() - t3) / 1e9
      val mismNear = nearSkew.select(col("event_id"),
          col("__match.__mt").as("m")).as("a")
        .join(nearPlain.select(col("event_id"), col("__match.__mt").as("m")).as("b"),
          col("a.event_id") === col("b.event_id"), "full")
        .where(col("a.event_id").isNull || col("b.event_id").isNull ||
          (col("a.m").isNull =!= col("b.m").isNull) ||
          (col("a.m").isNotNull && col("a.m") =!= col("b.m")))
        .count()
      val nearNodes = allPlanNodes(nearSkew)
      val nearJoins = nearNodes.count(_.getClass.getSimpleName.contains("Join"))
      val nearBcast = nearNodes.count(
        _.getClass.getSimpleName.contains("BroadcastExchange"))
      val (nearMaxRec, nearMaxBytes, nearNEx) = exchangeMaxima(nearSkew)
      val okNear = mismNear == 0 && rowsNear == nL2 &&
        nearJoins == 0 && nearBcast == 0 &&
        nearMaxRec <= nL2 + nR2 + 2 * occupied
      if (!okNear) failures += 1
      println(f"[scale-100x-asof] asof-near-skew rows=$rowsNear%-9d ${secNear}%7.2f s " +
        f"(plain ${secNearPlain}%6.2f s)  joins=$nearJoins (bound 0)  " +
        f"broadcasts=$nearBcast (bound 0)  exchanges=$nearNEx " +
        f"exchange-rows=$nearMaxRec (bound ${nL2 + nR2}+${2 * occupied} seeds)  " +
        f"exchange-MB=${nearMaxBytes / 1e6}%7.1f  " +
        f"mismatches-vs-plain=$mismNear  ${if (okNear) "OK" else "FAIL"}")
      nearSkew.unpersist(); nearPlain.unpersist()
      skew.unpersist(); plain.unpersist()
    }

    // range join: universe-offset values make interval containment a
    // per-universe event (value = uni * 4e15 + tsu; sf0.1 event times
    // span ~2.6e12 us, far below the offset stride)
    locally {
      val pts = clicks.select((col("uni") * 4000000000000000L + col("tsu")).as("v"))
        .localCheckpoint()
      val ivs = purch.select(
        (col("uni") * 4000000000000000L + col("ptsu") - 300000000L).as("lo"),
        (col("uni") * 4000000000000000L + col("ptsu") + 300000000L).as("hi"))
        .localCheckpoint()
      val t0 = System.nanoTime()
      val joined = graft.operators.Joins.rangeJoin(pts, "v", ivs, "lo", "hi",
        bucketWidth = 3.6e9)
      val rows = joined.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val nodes = allPlanNodes(joined)
      val cart = nodes.exists(n => {
        val s = n.getClass.getSimpleName
        s.contains("CartesianProduct") || s.contains("BroadcastNestedLoopJoin")
      })
      val (maxRec, maxBytes, nEx) = exchangeMaxima(joined)
      // replication bound: each +-300 s interval overlaps at most 2 of
      // the 3600 s buckets, so no exchange may exceed points + 2x
      // intervals
      val ok = !cart && maxRec <= nL + 2 * nR && rows > 0
      if (!ok) failures += 1
      println(f"[scale-100x-asof] range-join     rows=$rows%-9d ${sec}%7.2f s  " +
        f"exchanges=$nEx max-exchange-rows=$maxRec (bound ${nL + 2 * nR})  " +
        f"max-exchange-MB=${maxBytes / 1e6}%7.1f  cartesian=$cart  " +
        s"${if (ok) "OK" else "FAIL"}")
    }
    failures
  }

  /** 100x rotation, family 7: eval-decontamination at 500k corpus docs.
    * The scale claims in `contaminationScan`/`contaminationCoverage`'s
    * scaladocs, measured: the benchmark side (eval-suite sized — here
    * ~0.1% of the corpus) reduces to a distinct shingle-hash set that
    * BROADCASTS; the corpus streams map-side through one semi-join +
    * per-doc count, so no exchange ever carries text and every shuffle
    * is doc-count-bounded (partial-combined (id, count) rows), never
    * shingle-count-bounded (~27M exploded shingles at this corpus).
    * Run: sbt "runMain graft.tools.ScaleAudit contamination100". */
  def contamination100(spark: SparkSession, src: String, out: String): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    buildCorpus(spark, src, out, copies = 100, period = 3)
    var failures = 0
    val d100 = spark.read.parquet(s"$out/documents.parquet")
    val nDocs = d100.count()
    val bench = d100.where(pmod(col("doc_id"), lit(997)) === 0)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val nBench = bench.count()

    def audit(name: String, df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val nodes = allPlanNodes(df)
      val textEx = nodes.count {
        case e: ShuffleExchangeExec => e.output.exists(_.name == "text")
        case _ => false
      }
      val bcast = nodes.exists(
        _.getClass.getSimpleName.contains("BroadcastExchange"))
      val cart = hasCartesian(df)
      val (maxRec, maxBytes, nEx) = exchangeMaxima(df)
      // doc-count-bounded shuffles: partial-combined (id, count) rows —
      // 3x headroom for multi-stage partials; the 27M-shingle explode
      // must never be what crosses an exchange
      val ok = textEx == 0 && bcast && !cart && rows == nDocs &&
        maxRec <= 3 * nDocs
      if (!ok) failures += 1
      println(f"[scale-100x-contam] $name%-10s rows=$rows%-9d ${sec}%7.2f s  " +
        f"exchanges=$nEx max-exchange-rows=$maxRec (bound ${3 * nDocs})  " +
        f"max-exchange-MB=${maxBytes / 1e6}%7.1f  text-exchanges=$textEx " +
        s"broadcast=$bcast cartesian=$cart  ${if (ok) "OK" else "FAIL"}")
    }
    audit("scan", graft.dedup.Dedup.contaminationScan(d100, bench))
    audit("coverage", graft.dedup.Dedup.contaminationCoverage(d100, bench))
    println(s"[scale-100x-contam] corpus docs=$nDocs benchmark docs=$nBench")
    failures
  }

  /** The named 100x families, in the round-rotation order AuditBattery
    * uses. streaming100 is last: it is the slowest (30 forced
    * micro-batches) and has no corpus to share with the others. */
  val families100: Vector[String] = Vector("minhash100", "ann100",
    "editdist100", "text100", "graph100", "substring100", "asof100",
    "contamination100", "moments100", "multimodal100", "orderstats100",
    "tram100", "kernel100", "layout100", "hmm100", "cluster100",
    "its100", "sindy100", "effcounts100", "rangejoin100", "bayes100",
    "streaming100")

  /** Run one named 100x family; returns its failure count. */
  def run100x(spark: SparkSession, family: String, src: String,
              out100: String): Int = family match {
    case "minhash100" => minhash100(spark, src, out100)
    case "ann100" => ann100(spark, src, out100)
    case "text100" => text100(spark, src, out100)
    case "streaming100" => streaming100(spark, src)
    case "graph100" => graph100(spark, src, out100)
    case "substring100" => substring100(spark, src, out100)
    case "asof100" => asof100(spark, src)
    case "contamination100" => contamination100(spark, src, out100)
    case "moments100" => moments100(spark, src)
    case "multimodal100" => multimodal100(spark, src, out100)
    case "editdist100" => editdist100(spark, src, out100)
    case "orderstats100" => orderstats100(spark)
    case "tram100" => tram100(spark, src)
    case "kernel100" => kernel100(spark, src)
    case "layout100" => layout100(spark, src)
    case "hmm100" => hmm100(spark, src)
    case "cluster100" => cluster100(spark, src)
    case "its100" => its100(spark, src)
    case "sindy100" => sindy100(spark, src)
    case "effcounts100" => effcounts100(spark)
    case "rangejoin100" => rangejoin100(spark)
    case "bayes100" => bayes100(spark, src)
    case other => throw new IllegalArgumentException(
      s"unknown 100x family '$other' (known: ${families100.mkString(", ")})")
  }

  /** 100x family twelve (VERDICT r11 item 4): the GlobalIndex two-pass
    * order-statistics decomposition at 6M rows — ABOVE the auto
    * threshold, so the range-partitioned + offset-seeded path itself
    * executes (driver-SF oracles ride the plain-window branch; q262
    * DuckDB-gates the forced path at small SF). The sort key is a
    * bijective permutation of 0..n-1 (value = (id * p) mod n, p coprime
    * to n), so every statistic has a CLOSED FORM checked exactly and
    * distributed (one violation-sum aggregate each, nothing collected):
    *   - global index ordered by value == value,
    *   - running count (rows_excl) of 1s == value (NULL -> 0 on the
    *     first row),
    *   - range_excl over the 10-wide tie key value div 10 == 10 * key
    *     (equal-key runs excluded together),
    *   - ntile(k) == Spark's exact remainder arithmetic of rank value.
    * Shape invariants: the decomposition emits > 1 output partition
    * (never a one-task global sort) and the driver sees only the
    * nPartitions prefix-combine longs by construction. */
  def orderstats100(spark: SparkSession): Int = {
    var failures = 0
    val n = 6000000L
    val p = 4999999L // coprime to 6e6; (id * p) mod n is a bijection
    val base = spark.range(n)
      .select(col("id"),
        pmod(col("id") * p, lit(n)).as("value"),
        (pmod(col("id") * p, lit(n)) / 10L).cast("long").as("tie10"),
        lit(1L).as("one"))

    def check(name: String, viol: => org.apache.spark.sql.DataFrame,
              partsOf: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val v = viol.collect()(0).getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      val outParts = partsOf.rdd.getNumPartitions
      val ok = v == 0L && outParts > 1
      if (!ok) failures += 1
      println(f"[scale-100x-ord] $name%-14s violations=$v out-partitions=$outParts " +
        f"${sec}%7.2f s  ${if (ok) "OK" else "FAIL"}")
    }

    // 1. global index == value (bijection rank)
    val gi = graft.operators.GlobalIndex.withGlobalIndexAuto(
      base, "gi", Seq(col("value")), knownCount = n)
    check("global-index",
      gi.agg(sum(when(col("gi") =!= col("value"), 1L).otherwise(0L)).as("v")), gi)

    // 2. running rows_excl count == value
    val run = graft.operators.GlobalIndex.withRunningAuto(
      base, "cum", "one", agg = "sum", frame = "rows_excl",
      sortCols = Seq(col("value")), knownCount = n)
    check("rows-excl-sum",
      run.agg(sum(when(coalesce(col("cum"), lit(0L)) =!= col("value"), 1L)
        .otherwise(0L)).as("v")), run)

    // 3. range_excl over the 10-wide tie key == 10 * key
    val rng = graft.operators.GlobalIndex.withRunningAuto(
      base, "cumlt", "one", agg = "sum", frame = "range_excl",
      sortCols = Seq(col("tie10"), col("id")), rangeKey = Some("tie10"),
      knownCount = n)
    check("range-excl-sum",
      rng.agg(sum(when(coalesce(col("cumlt"), lit(0L)) =!= col("tie10") * 10L, 1L)
        .otherwise(0L)).as("v")), rng)

    // 4. ntile(7): Spark's exact remainder arithmetic of rank = value
    val k = 7
    val nt = graft.operators.GlobalIndex.withNtile(
      base, "tile", k, Seq(col("value")), knownCount = n)
    val bigB = n / k + 1
    val rem = n % k
    val expected = when(col("value") + 1 <= lit(rem * bigB),
        (col("value")) / lit(bigB) + 1)
      .otherwise(lit(rem) + (col("value") - lit(rem * bigB)) / lit(n / k) + 1)
    check("ntile",
      nt.agg(sum(when(col("tile").cast("long") =!= expected.cast("long"), 1L)
        .otherwise(0L)).as("v")), nt)

    // 5. planted hot tie-run (VERDICT r13 task 1): HALF the corpus on ONE
    // range_excl key — under the old key-only partitioning this run was
    // required to fit a single task (the hot-partition failure mode at a
    // low-cardinality cumulate key); the skew-safe bookkeeping must split
    // it across partitions while the cumulate stays closed-form exact:
    // hkey = 0 for value < n/2, else value div 10 (10-wide cold keys), so
    // cum_lt = NULL->0 on the hot key and 10*hkey everywhere else
    // (3M hot rows + (10*hkey - 3M) cold rows below).
    val hot = base.withColumn("hkey",
      when(col("value") < n / 2, 0L)
        .otherwise((col("value") / 10L).cast("long")))
    val hotRun = graft.operators.GlobalIndex.withRunningAuto(
      hot, "cum", "one", agg = "sum", frame = "range_excl",
      sortCols = Seq(col("hkey"), col("id")), rangeKey = Some("hkey"),
      knownCount = n)
    val expHot = when(col("hkey") === 0L, 0L).otherwise(col("hkey") * 10L)
    check("hot-tie-range",
      hotRun.agg(sum(when(coalesce(col("cum"), lit(0L)) =!= expHot, 1L)
        .otherwise(0L)).as("v")), hotRun)
    val partRows = hotRun.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(it.size.toLong)).collect()
    val maxPart = partRows.max
    // bound derived from REALIZED parallelism (ADVICE r13): a fair range
    // split puts ~n/nP rows in a task; 4x slack absorbs sampled-boundary
    // granularity, and the can-it-split-at-all floor n/2 keeps low-CPU
    // sessions (nP <= 8, where 4n/nP >= n/2) from false-failing a
    // maximally-split run — while a 32-partition session now has to beat
    // 4n/32, not just "under half", so a near-degenerate 49% split FAILS
    val nPSplit = math.max(1, partRows.length)
    val splitBound = math.min(n / 2, 4L * n / nPSplit)
    val okSplit = maxPart < splitBound
    if (!okSplit) failures += 1
    println(f"[scale-100x-ord] hot-run-split  max-partition-rows=$maxPart " +
      f"(hot run ${n / 2}, bound <$splitBound @ $nPSplit partitions)  " +
      f"${if (okSplit) "OK" else "FAIL"}")

    println(s"[scale-100x-ord] rows=$n threshold=2000000 (two-pass path engaged)")
    failures
  }

  /** 100x family thirteen (VERDICT r12 task 1): the distributed TRAM
    * E-step over a bias table 60x past the driver cap — 12M samples,
    * two ensembles, replicated map-side from the sf events dtraj.
    * Invariants:
    *   1. fitDistributed completes with all energies FINITE while the
    *      sample RDD never reaches the driver (each sweep is ONE
    *      treeAggregate whose partials are K x n logsumexp cells);
    *   2. the capped landmark fit (200k of 12M samples, the r11-era
    *      answer) agrees with the all-samples answer within the
    *      sampling tolerance — the distributed path is the exact one;
    *   3. fixed sweep count (maxErr = 0) so the job count is pinned. */
  def tram100(spark: SparkSession, src: String): Int = {
    var failures = 0
    val copies = 120
    val d = graft.core.Trajectories.dtrajFromEvents(spark, src)
      .where(col("state") >= 0)
    val nBase = d.count()
    val biasVec = Seq(2.0, 1.5, 1.0, 0.5, 0.0)
    def withBias(df: org.apache.spark.sql.DataFrame) = df.withColumn("bias",
      array(lit(0.0), element_at(typedLit(biasVec), col("state") + 1)))
    // map-side replication: each copy is a distinct trajectory universe
    def rep(df: org.apache.spark.sql.DataFrame) =
      spark.range(copies).crossJoin(df)
        .select((col(graft.core.Trajectories.TrajCol) + col("id") * 1000000L)
          .as(graft.core.Trajectories.TrajCol),
          col(graft.core.Trajectories.TimeCol), col("state"), col("bias"))
    val f0 = rep(withBias(d))
    val f1 = rep(withBias(graft.lag.Lag.strided(d, 2)))
    val nSamples = nBase * copies * 3 / 2 // both ensembles, one strided half

    val sweeps = 6
    val t0 = System.nanoTime()
    val dist = graft.markov.Tram.fitDistributed(Seq(f0, f1), tau = 1,
      nMarkov = 5, maxIter = sweeps, maxErr = 0.0)
    val secD = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val capped = graft.markov.Tram.fit(
      graft.markov.Tram.inputFromFrames(Seq(f0, f1), tau = 1, nMarkov = 5,
        maxSamples = 200000),
      maxIter = sweeps, maxErr = 0.0)
    val secC = (System.nanoTime() - t1) / 1e9

    val finite = (0 until 5).forall(i =>
      java.lang.Double.isFinite(dist.markovStateEnergies(i)) &&
        (0 until 2).forall(k => java.lang.Double.isFinite(dist.biasedConfEnergies(k, i))))
    val gap = (0 until 5).map(i =>
      math.abs(dist.markovStateEnergies(i) - capped.markovStateEnergies(i))).max
    val okFinite = finite
    val okGap = gap < 0.05
    val okIters = dist.iterations == sweeps
    if (!okFinite || !okGap || !okIters) failures += 1
    println(f"[scale-100x-tram] samples=$nSamples (cap was 200000, ${nSamples / 200000}x past it)  " +
      f"sweeps=${dist.iterations} distributed=${secD}%.1f s capped=${secC}%.1f s")
    println(f"[scale-100x-tram] all-energies-finite=$finite  " +
      f"capped-vs-distributed Linf=$gap%.4f (bound 0.05)  " +
      s"${if (okFinite && okGap && okIters) "OK" else "FAIL"}")
    failures
  }

  /** 100x family fourteen (VERDICT r12 task 5): the T x T kernel-gram
    * methods (KernelEDMD / KernelCCA / KVAD) under the landmark contract
    * at a ~100x corpus. The hard-part contract
    * (decomposition/KernelMethods.scala KernelData) says gram methods are
    * inherently O(T^2) driver memory, so at scale they run on a bounded
    * landmark subset drawn by a DISTRIBUTED bottom-k hash sample (one
    * TrajectoryScan fold keeping the cap's smallest xxhash64 keys) —
    * never a full collect. Invariants:
    *   1. the collected landmark set never exceeds maxLandmarks, and
    *      lands at or above 0.75 * cap (a bottom-k sample fills the cap
    *      whenever there are more pairs), at a corpus ~16,000x the cap;
    *   2. landmark-estimate CONVERGENCE (the tram100 capped-vs-exact
    *      pattern): a 2x-cap refit moves the leading spectrum by less
    *      than a stated bound — KernelCCA top-3 canonical correlations,
    *      KernelEDMD top-3 |eigenvalue|, KVAD score (relative);
    *   3. wall time stays landmark-dominated (printed; the distributed
    *      part is one fold per fit). */
  def kernel100(spark: SparkSession, src: String): Int = {
    var failures = 0
    // Corpus: 9.6M frames of Ornstein-Uhlenbeck, generated DISTRIBUTED
    // (one task per trajectory — the engine's own 100TB-shape source)
    // rather than replicated testdata: the OU Koopman spectrum is
    // ANALYTIC (eigenvalues a1^k with a1 = (1-alpha h)^nSteps under
    // exact Euler-Maruyama AR(1)), so landmark convergence is checked
    // against ground truth, not just self-consistency. Lineitem features
    // were tried first and rejected: their lagged pairs carry ~zero true
    // temporal correlation, so the sub-leading kernel spectrum there is
    // pure sampling noise decaying ~1/sqrt(m) (measured 0.38 at m=400 ->
    // 0.27 at m=800) — a drift gate on noise pins nothing.
    val h = 0.01; val nSteps = 10
    val a1 = math.pow(1.0 - h, nSteps) // lag-1 AR(1) factor ~0.9044
    val traj = graft.data.Generators.trajectories(spark,
        graft.data.Generators.OrnsteinUhlenbeck(), Array(Array(0.0)),
        nTraj = 640, length = 15000, seed = 17L, h = h, nSteps = nSteps)
      .where(col(graft.core.Trajectories.TimeCol) >= 200) // burn-in
      .localCheckpoint()
    val nRows = traj.count()
    val cap = 400
    println(f"[scale-100x-kernel] corpus rows=$nRows (~${nRows / cap}x the " +
      f"$cap-landmark cap), analytic a1=$a1%.4f")
    val kern = graft.kernels.GaussianKernel(0.5)

    def gate(name: String, landmarks1: Int, landmarks2: Int,
             drift: Double, bound: Double, sec: Double): Unit = {
      val okCap = landmarks1 <= cap && landmarks1 >= (cap * 3) / 4 &&
        landmarks2 <= 2 * cap && landmarks2 >= (2 * cap * 3) / 4
      val okDrift = drift < bound
      if (!okCap || !okDrift) failures += 1
      println(f"[scale-100x-kernel] $name%-12s landmarks=$landmarks1/$landmarks2 " +
        f"(caps $cap/${2 * cap})  cap-vs-2xcap drift=$drift%.4f (bound $bound)  " +
        f"${sec}%6.1f s  ${if (okCap && okDrift) "OK" else "FAIL"}")
    }

    locally { // KernelCCA: top-3 spectrum of (G0+eps)^-1 G0 (G1+eps)^-1 G1.
      // The reference regularizes with a FIXED eps against an n x n gram
      // (_cca.py:107-108) whose eigenvalues scale ~n (unit gram diagonal),
      // so the raw spectrum is n-COUPLED by definition — it inflates
      // toward 1 as the landmark count grows (measured 0.68 -> 0.81 at
      // fixed eps). The convergent estimand holds the PER-SAMPLE
      // regularization constant: eps2 = 2 * eps1 at the 2x cap.
      val t0 = System.nanoTime()
      val eps = 1e-4
      val m1 = graft.decomposition.KernelCca.fit(traj, kern, tau = 1,
        nEigs = 3, epsilon = eps, maxLandmarks = cap, seed = 42L)
      val m2 = graft.decomposition.KernelCca.fit(traj, kern, tau = 1,
        nEigs = 3, epsilon = 2 * eps, maxLandmarks = 2 * cap, seed = 42L)
      println("[scale-100x-kernel] cca eigs cap=" +
        m1.eigenvalues.map(v => f"$v%.4f").mkString(",") +
        " 2xcap(eps-scaled)=" +
        m2.eigenvalues.map(v => f"$v%.4f").mkString(","))
      // gated quantities (r13 verdict task 5 tightening): the leading
      // mode (drift ~0.009) AND the second mode (drift ~0.030) — both
      // inside 0.05 at the cap. λ₃ remains printed, not gated: mode-k
      // Nyström error grows with k (measured 0.12 at m=400 vs 800) and
      // the fixed-per-sample-eps estimand has no closed form to pin it
      // to (the raw fixed-eps spectrum is n-coupled per _cca.py:107),
      // so a λ₃ gate here would pin sampling noise, not convergence.
      val drift = m1.eigenvalues.zip(m2.eigenvalues).take(2)
        .map { case (a, b) => math.abs(a - b) }.max
      gate("kernel-cca", m1.landmarks.length, m2.landmarks.length,
        drift, 0.05, (System.nanoTime() - t0) / 1e9)
    }
    locally { // KernelEDMD (_dmd.py:419): the OU Koopman spectrum is the
      // FULL Hermite ladder a1^k (k = 0, 1, 2, ...), so the leading
      // eigenvalue must sit at 1 (constant eigenfunction) and BOTH
      // sub-leading modes are gated against closed forms at both caps
      // (r13 verdict task 5: λ₃ = a1² was printed, not gated — measured
      // 0.7992/0.8278 vs analytic 0.8179, well inside the bound).
      val t0 = System.nanoTime()
      val m1 = graft.decomposition.KernelEdmd.fit(traj, kern, tau = 1,
        epsilon = 1e-6, maxLandmarks = cap, seed = 42L)
      val m2 = graft.decomposition.KernelEdmd.fit(traj, kern, tau = 1,
        epsilon = 1e-6, maxLandmarks = 2 * cap, seed = 42L)
      def mags(re: Array[Double], im: Array[Double]) =
        re.indices.map(i => math.hypot(re(i), im(i))).take(3)
      val g1 = mags(m1.eigenvaluesRe, m1.eigenvaluesIm)
      val g2 = mags(m2.eigenvaluesRe, m2.eigenvaluesIm)
      val a2 = a1 * a1 // Hermite-2 eigenvalue
      println("[scale-100x-kernel] edmd |eig| cap=" +
        g1.map(v => f"$v%.4f").mkString(",") + " 2xcap=" +
        g2.map(v => f"$v%.4f").mkString(",") + f" analytic=1,$a1%.4f,$a2%.4f")
      val okLead = math.abs(g1.head - 1.0) < 1e-3 && math.abs(g2.head - 1.0) < 1e-3
      val okL2 = math.abs(g1(1) - a1) < 0.05 && math.abs(g2(1) - a1) < 0.05
      val okL3 = math.abs(g1(2) - a2) < 0.05 && math.abs(g2(2) - a2) < 0.05
      if (!okLead || !okL2 || !okL3) failures += 1
      println(f"[scale-100x-kernel] edmd lead-eig-at-1=$okLead " +
        f"lambda2-err=${math.abs(g1(1) - a1)}%.4f/${math.abs(g2(1) - a1)}%.4f " +
        f"lambda3-err=${math.abs(g1(2) - a2)}%.4f/${math.abs(g2(2) - a2)}%.4f " +
        f"(bounds 0.05) ${if (okLead && okL2 && okL3) "OK" else "FAIL"}")
      val drift = g1.zip(g2).map { case (a, b) => math.abs(a - b) }.max
      gate("kernel-edmd", m1.landmarks.length, m2.landmarks.length,
        drift, 0.05, (System.nanoTime() - t0) / 1e9)
    }
    locally { // KVAD: variational score, relative drift
      val t0 = System.nanoTime()
      val chi = graft.basis.Monomials(2)
      val m1 = graft.decomposition.Kvad.fit(traj, kern, tau = 1, chi = chi,
        inputDim = 1, maxLandmarks = cap, seed = 42L)
      val m2 = graft.decomposition.Kvad.fit(traj, kern, tau = 1, chi = chi,
        inputDim = 1, maxLandmarks = 2 * cap, seed = 42L)
      val drift = math.abs(m1.score - m2.score) /
        math.max(math.abs(m2.score), 1e-12)
      val okSv = m1.singularValues.nonEmpty &&
        m1.singularValues.forall(v => java.lang.Double.isFinite(v) && v >= 0)
      if (!okSv) failures += 1
      gate("kvad", m1.nLandmarks, m2.nLandmarks,
        drift, 0.05, (System.nanoTime() - t0) / 1e9)
    }
    failures
  }

  /** 100x family fifteen: the sink/layout levers at a 15M-row corpus —
    * the write-side half of the 100 TB story (the read-side operators
    * have their own families). Invariants:
    *   1. COMPACTION: a fragmented sink (400 micro-files — the
    *      streaming-ingest shape) compacts to exactly the requested
    *      file count with zero row loss;
    *   2. Z-ORDER: on the REAL written files (per-file min/max spans via
    *      input_file_name, i.e. exactly what parquet row-group pruning
    *      sees), the morton layout prunes on BOTH dimensions while the
    *      linear layout is perfect on its own dimension and blind on the
    *      other — the q198 span argument, but measured on files, not
    *      logical buckets;
    *   3. BUCKETED JOIN: fact and dim written bucketed on the join key
    *      plan with ZERO shuffle exchanges at the full corpus;
    *   4. PARTITION PRUNING: a hive-partitioned sink re-scanned with a
    *      partition predicate selects files from ONE directory only. */
  def layout100(spark: SparkSession, src: String): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.SaveMode
    import graft.sources.{Layout, Sinks}
    var failures = 0
    val copies = 100
    val o0 = graft.core.Trajectories.table(spark, src, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    val orders = spark.range(copies).crossJoin(o0)
      .select((col("o_orderkey") + col("id") * 10000000000L).as("okey"),
        col("o_custkey").as("cust"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      .localCheckpoint()
    val n = orders.count()
    println(s"[scale-100x-layout] corpus rows=$n (100 universes of orders)")

    def gate(name: String, ok: Boolean, detail: String, t0: Long): Unit = {
      if (!ok) failures += 1
      println(f"[scale-100x-layout] $name%-14s $detail  " +
        f"${(System.nanoTime() - t0) / 1e9}%6.1f s  ${if (ok) "OK" else "FAIL"}")
    }

    locally { // 1. compaction
      val t0 = System.nanoTime()
      val fragPath = Sinks.scratchPath("lay100frag", src)
      orders.repartition(400).write.mode(SaveMode.Overwrite).parquet(fragPath)
      val before = Sinks.dataFileCount(fragPath)
      val cPath = Sinks.compact(spark, fragPath, 24)
      val after = Sinks.dataFileCount(cPath)
      val rows = spark.read.parquet(cPath).count()
      gate("compaction", before >= 400 && after == 24 && rows == n,
        s"files $before -> $after (want 24), rows=$rows (want $n)", t0)
    }

    locally { // 2. z-order vs linear, spans of the real files
      val t0 = System.nanoTime()
      val maxes = orders.agg(max(col("cust")).as("maxc"),
        max(col("price")).as("maxp"))
      val q = orders.crossJoin(broadcast(maxes))
        .select(col("okey"),
          expr("CAST((cust * 256) DIV (maxc + 1) AS BIGINT)").as("qx"),
          expr("CAST(floor(price * 256.0 / (maxp + 1.0)) AS BIGINT)").as("qy"))
        .withColumn("morton", Layout.mortonInterleave(col("qx"), col("qy"), 8))
      val nF = 64
      val zPath = Sinks.writeRangeClustered(q, "lay100z", src, "morton", nF)
      val lPath = Sinks.writeRangeClustered(q, "lay100lin", src, "qx", nF)
      // per-file spans == exactly the min/max a row-group-pruning scan
      // consults; predicate = dim < 32 (1/8 of the quantized space)
      def hits(path: String, dim: String): (Long, Long) = {
        val spans = spark.read.parquet(path)
          .groupBy(input_file_name().as("f"))
          .agg(min(col(dim)).as("lo"))
        (spans.where(col("lo") < 32).count(), spans.count())
      }
      val (zxH, zN) = hits(zPath, "qx"); val (zyH, _) = hits(zPath, "qy")
      val (lxH, lN) = hits(lPath, "qx"); val (lyH, _) = hits(lPath, "qy")
      // zorder must prune BOTH dims to <= half the files; linear is
      // near-perfect on its own dim but must NOT prune the other (the
      // one-column-sort blindness the morton layout exists to fix)
      val ok = zN == nF && lN == nF &&
        zxH <= nF / 2 && zyH <= nF / 2 &&
        lxH <= nF / 4 && lyH >= (nF * 9) / 10
      gate("zorder-spans", ok,
        s"files hit by qx<32/qy<32: zorder $zxH/$zyH of $zN " +
          s"(bound ${nF / 2}), linear $lxH/$lyH of $lN " +
          s"(own-dim bound ${nF / 4}, other-dim floor ${(nF * 9) / 10})", t0)
    }

    locally { // 3. bucketed join: zero exchanges at the full corpus
      val t0 = System.nanoTime()
      val factT = Sinks.writeBucketed(orders.select("okey", "cust", "price"),
        "lay100fact", src, "cust", 16)
      val dimT = Sinks.writeBucketed(
        orders.groupBy("cust").agg(sum(col("price")).as("tot")),
        "lay100dim", src, "cust", 16)
      val j = spark.table(factT).join(spark.table(dimT), "cust")
      val rows = j.queryExecution.toRdd.count()
      val exch = allPlanNodes(j).count(_.isInstanceOf[ShuffleExchangeExec])
      gate("bucketed-join", exch == 0 && rows == n,
        s"rows=$rows (want $n)  exchanges=$exch (bound 0)", t0)
    }

    locally { // 4. partition-pruned re-scan
      val t0 = System.nanoTime()
      val pPath = Sinks.writePartitioned(orders, "lay100part", src, "status")
      val back = spark.read.parquet(pPath).where(col("status") === "F")
      val scans = back.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val files = scans.flatMap(_.selectedPartitions.toPartitionArray)
        .map(_.filePath.toString)
      val rows = back.count()
      val want = orders.where(col("status") === "F").count()
      gate("partition-prune",
        files.nonEmpty && files.forall(_.contains("status=F")) && rows == want,
        s"selected-files=${files.length} (all under status=F: " +
          s"${files.forall(_.contains("status=F"))}), rows=$rows (want $want)", t0)
    }
    failures
  }

  /** 100x family sixteen: distributed Baum-Welch + Viterbi at a 15M-frame
    * corpus. The HMM E-step is the engine's canonical per-trajectory
    * sequential recursion (a map over the state sequences of
    * `TrajectoryScan.states`; SURVEY §2.7): ONE data-sized exchange groups
    * trajectories, the grouping is cached, and every EM iteration is a single job
    * whose reduce ships MODEL-SIZED EStats partials (m² + m·nObs + m
    * doubles) — nothing row-sized ever reaches the driver. Invariants:
    *   1. RECOVERY at 100x: a planted 6-state chain with two metastable
    *      blocks (cross-block mass eps = 0.003/row) fitted as a 2-state
    *      HMM recovers the blocks — metastable diagonal >= 0.985 and
    *      each hidden state's emission row concentrates >= 0.95 mass on
    *      its own (distinct) block;
    *   2. Viterbi decodes the full corpus (row count preserved) and
    *      >= 99% of frames decode to their observed state's block
    *      (label-swap invariant);
    *   3. the corpus is GENERATED distributed (one seeded task per
    *      chain, `MarkovSim.simulate` — the engine's own source). */
  def hmm100(spark: SparkSession, src: String): Int = {
    var failures = 0
    val eps = 0.003
    val t6 = breeze.linalg.DenseMatrix.tabulate(6, 6) { (i, j) =>
      val sameBlock = (i < 3) == (j < 3)
      if (sameBlock) (1.0 - eps) / 3.0 else eps / 3.0
    }
    val nTraj = 600; val len = 25000
    val dtraj = graft.data.MarkovSim.simulate(spark, t6, nTraj, len, seed = 23L)
      .localCheckpoint()
    val n = dtraj.count()
    println(s"[scale-100x-hmm] corpus frames=$n ($nTraj chains x $len, " +
      s"planted 2-block chain, eps=$eps)")

    val t0 = System.nanoTime()
    val model = graft.markov.hmm.Hmm.fit(dtraj, nHidden = 2, nObs = 6,
      maxIter = 12, tol = 1e-9, reversible = true)
    val secFit = (System.nanoTime() - t0) / 1e9
    val a = model.transition
    val diagOk = a(0, 0) >= 0.985 && a(1, 1) >= 0.985
    def blockMass(k: Int, b: Int): Double =
      (0 until 6).filter(o => (o < 3) == (b == 0)).map(model.emission(k, _)).sum
    val blockOf = Array.tabulate(2)(k => if (blockMass(k, 0) >= blockMass(k, 1)) 0 else 1)
    val emitOk = blockOf(0) != blockOf(1) &&
      (0 until 2).forall(k => blockMass(k, blockOf(k)) >= 0.95)
    val llOk = java.lang.Double.isFinite(model.logLikelihood)
    if (!diagOk || !emitOk || !llOk) failures += 1
    println(f"[scale-100x-hmm] baum-welch      iters=${model.iterations} " +
      f"diag=${a(0, 0)}%.4f/${a(1, 1)}%.4f (bound 0.985)  " +
      f"block-mass=${blockMass(0, blockOf(0))}%.4f/${blockMass(1, blockOf(1))}%.4f " +
      f"(bound 0.95, distinct=${blockOf(0) != blockOf(1)})  ${secFit}%6.1f s  " +
      s"${if (diagOk && emitOk && llOk) "OK" else "FAIL"}")

    val t1 = System.nanoTime()
    val hid = graft.markov.hmm.Hmm.viterbi(dtraj, model, nObs = 6)
    val joined = hid.join(dtraj, Seq("traj_id", "t"))
      .select(when(col("state") < 3, blockOf(0)).otherwise(blockOf(1))
        .as("want"), col("hidden"))
    val agg = joined.agg(count(lit(1)).as("n"),
      sum(when(col("want") === col("hidden"), 1L).otherwise(0L)).as("match"))
      .collect()(0)
    val rows = agg.getLong(0); val matched = agg.getLong(1)
    val secVit = (System.nanoTime() - t1) / 1e9
    val frac = matched.toDouble / math.max(1L, rows)
    val vitOk = rows == n && frac >= 0.99
    if (!vitOk) failures += 1
    println(f"[scale-100x-hmm] viterbi         rows=$rows (want $n)  " +
      f"block-agreement=$frac%.5f (bound 0.99)  ${secVit}%6.1f s  " +
      s"${if (vitOk) "OK" else "FAIL"}")
    failures
  }

  /** Per-job transport metrics aggregated from the scheduler: shuffle
    * bytes written and the largest task RESULT shipped to the driver.
    * Used by [[bayes100]], whose audited work is a `Dataset.reduce`
    * ACTION per Gibbs sweep — there is no output frame whose plan
    * [[exchangeMaxima]] could walk, so the bounds come from the
    * scheduler's own accounting. */
  private class SweepTransportMetrics extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerTaskEnd}
    final class JobAgg {
      var shuffleWrite = 0L; var shuffleRead = 0L
      var maxResult = 0L; var tasks = 0; var site = ""
    }
    val jobs = new scala.collection.concurrent.TrieMap[Int, JobAgg]()
    private val stageToJob = new scala.collection.concurrent.TrieMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.getOrElseUpdate(e.jobId, new JobAgg).site = site
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        val agg = jobs.getOrElseUpdate(j, new JobAgg)
        agg.synchronized {
          agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          agg.maxResult = math.max(agg.maxResult, m.resultSize)
          agg.tasks += 1
        }
      }
  }

  /** 100x family twenty-two (VERDICT r14 task 2): the DISTRIBUTED
    * FFBS/Gibbs transport — `BayesianHmm.sample` with localThreshold = 0,
    * the q265 path — at hmm100's corpus scale. hmm100 pins the
    * Baum-Welch/Viterbi scans; this family pins the Bayesian PER-SWEEP
    * reduce's 100 TB shape, measured from the SCHEDULER rather than a
    * plan walk (each sweep is a `Dataset.reduce` action over the cached
    * per-trajectory observations — no output frame exists to audit).
    * Invariants:
    *   1. TRANSPORT: among every job the sampler runs after its ML warm
    *      start, at most ONE writes any shuffle bytes (the cache fill of
    *      the `TrajectoryScan.states` grouping — observation-sized
    *      exactly ONCE); there are exactly nSweeps further reduce jobs
    *      and each writes ZERO shuffle bytes and returns at most
    *      sufficient-statistic-sized task results (O(m² + m·nObs) ≈ 18 doubles + task-metrics
    *      overhead; bound 256 KB) — vs the ~2 MB/task an
    *      observation-sized collect of this corpus would ship;
    *   2. RECOVERY: every retained posterior transition sample keeps the
    *      planted 2-block diagonal ≥ 0.98 with rows stochastic to 1e-9
    *      (15M observations concentrate the posterior hard). */
  def bayes100(spark: SparkSession, src: String): Int = {
    var failures = 0
    val eps = 0.003
    val t6 = breeze.linalg.DenseMatrix.tabulate(6, 6) { (i, j) =>
      val sameBlock = (i < 3) == (j < 3)
      if (sameBlock) (1.0 - eps) / 3.0 else eps / 3.0
    }
    val nTraj = 600; val len = 25000
    val dtraj = graft.data.MarkovSim.simulate(spark, t6, nTraj, len, seed = 23L)
      .localCheckpoint()
    val n = dtraj.count()
    println(s"[scale-100x-bayes] corpus frames=$n ($nTraj chains x $len, " +
      s"planted 2-block chain, eps=$eps)")
    val ml = graft.markov.hmm.Hmm.fit(dtraj, nHidden = 2, nObs = 6,
      maxIter = 8, tol = 1e-9, reversible = true)

    val nSweeps = 3
    val metrics = new SweepTransportMetrics
    spark.sparkContext.addSparkListener(metrics)
    val t0 = System.nanoTime()
    val post = try {
      graft.markov.hmm.BayesianHmm.sample(dtraj, ml, nObs = 6,
        nSamples = nSweeps, stride = 1, seed = 31L, localThreshold = 0L)
    } finally {
      org.apache.spark.sql.GraftExpressionBridge
        .drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(metrics)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val jobAggs = metrics.jobs.toSeq.sortBy(_._1).map(_._2)
    jobAggs.zipWithIndex.foreach { case (j, i) =>
      println(f"[scale-100x-bayes]   job#$i tasks=${j.tasks} " +
        f"shuffle-write=${j.shuffleWrite}B shuffle-read=${j.shuffleRead}B " +
        f"max-task-result=${j.maxResult}B site=${j.site}")
    }
    // sweep jobs carry the BayesianHmm job description; every job before
    // them is a cache fill of the grouping (its sizing job also runs the
    // one shuffle), and every per-sweep
    // reduce must be a pure cached-partition scan: zero shuffle bytes
    // either direction, task results sufficient-statistic-sized.
    val sweepJobs = jobAggs.filter(_.site.startsWith("BayesianHmm"))
    val fillJobs = jobAggs.filterNot(_.site.startsWith("BayesianHmm"))
    val maxSweepResult = if (sweepJobs.isEmpty) 0L else sweepJobs.map(_.maxResult).max
    val resultBound = 262144L
    val okTransport = fillJobs.count(_.shuffleWrite > 0) <= 1 &&
      sweepJobs.size == nSweeps &&
      sweepJobs.forall(j => j.shuffleWrite == 0 && j.shuffleRead == 0) &&
      maxSweepResult <= resultBound
    if (!okTransport) failures += 1
    println(f"[scale-100x-bayes] sweep-transport jobs=${jobAggs.size} " +
      f"(fill=${fillJobs.size}, of which shuffle-writers=" +
      f"${fillJobs.count(_.shuffleWrite > 0)}, bound 1: the cache fill; " +
      f"tagged zero-shuffle sweeps=${sweepJobs.size}, want $nSweeps)  " +
      f"max-sweep-task-result=${maxSweepResult}B (bound ${resultBound}B; " +
      f"an observation-sized collect ships ~${n * 4L / math.max(1,
        spark.sparkContext.defaultParallelism)}B/task)  ${sec}%6.1f s  " +
      s"${if (okTransport) "OK" else "FAIL"}")

    val diags = post.samples.map(s => math.min(s.transition(0, 0), s.transition(1, 1)))
    val rowRes = post.samples.flatMap(s => (0 until 2).map(i =>
      math.abs(breeze.linalg.sum(s.transition(i, ::).t) - 1.0)))
    val okRecover = post.samples.size == nSweeps &&
      diags.forall(_ >= 0.98) && rowRes.forall(_ <= 1e-9)
    if (!okRecover) failures += 1
    println(f"[scale-100x-bayes] posterior       samples=${post.samples.size} " +
      f"min-diag=${diags.min}%.5f (bound 0.98)  " +
      f"max-row-residual=${rowRes.max}%.2e (bound 1e-9)  " +
      s"${if (okRecover) "OK" else "FAIL"}")
    failures
  }

  /** 100x family seventeen: the discretization contract at a 15M-point
    * corpus — k-means TRAINS on the documented hash-sampled cap (seeding
    * quality needs a representative sample, not the corpus;
    * `Clustering.scala:110`) while ASSIGNMENT is a map-side codegen
    * expression over every row. Invariants:
    *   1. the capped fit RECOVERS the planted mixture: every planted
    *      center has a fitted center within 0.2 (L2) — ~20x the
    *      statistical error of the sample mean at this cap;
    *   2. full-corpus assignment purity >= 0.999 against the planted
    *      labels (majority cell per planted component);
    *   3. shape: the assignment+purity plan has NO join and ships NO
    *      feature vectors through any exchange — the only shuffle is the
    *      partial-combined (label, cell) count, <= partitions * k^2
    *      rows. */
  def cluster100(spark: SparkSession, src: String): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    var failures = 0
    val n = 15000000L
    val k = 5
    val pts = spark.range(n)
      .select((col("id") % k).cast("int").as("c"))
      .select(col("c"), array(
        col("c") * 10.0 + randn(11), col("c") * 5.0 + randn(12),
        col("c") * -3.0 + randn(13), col("c") * 2.0 + randn(14)).as("features"))
      .localCheckpoint()
    println(s"[scale-100x-cluster] corpus points=$n (planted $k-component " +
      "mixture, unit noise)")

    val t0 = System.nanoTime()
    val train = graft.util.Sampling.rowCap(pts, seed = 7L,
        knownCount = Some(n))
      .select("features")
    val model = graft.clustering.LloydKMeans.fit(train, k, maxIter = 20, seed = 42L)
    val secFit = (System.nanoTime() - t0) / 1e9
    def d2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val planted = (0 until k).map(c =>
      Array(c * 10.0, c * 5.0, c * -3.0, c * 2.0))
    val worst = planted.map(p => model.centers.map(d2(p, _)).min).max
    val okCenters = model.centers.length == k && worst < 0.2
    if (!okCenters) failures += 1
    println(f"[scale-100x-cluster] capped-fit      centers=${model.centers.length} " +
      f"worst-planted-distance=$worst%.4f (bound 0.2, cap 65536 of $n)  " +
      f"${secFit}%6.1f s  ${if (okCenters) "OK" else "FAIL"}")

    val t1 = System.nanoTime()
    val assigned = pts.withColumn("cell", model.assignColumn(col("features")))
    val cells = assigned.groupBy("c", "cell").count()
    val pur = cells.groupBy("c")
      .agg(max(col("count")).as("m"), sum(col("count")).as("t"))
      .agg(sum(col("m")).as("sm"), sum(col("t")).as("st"))
    val r = pur.collect()(0)
    val purity = r.getLong(0).toDouble / r.getLong(1)
    val secAssign = (System.nanoTime() - t1) / 1e9
    val leaked = shuffledPayloadColumns(pur)
    val joins = allPlanNodes(pur).count(_.getClass.getSimpleName.contains("Join"))
    val (maxRec, _, _) = exchangeMaxima(pur)
    // partial-combined (label, cell) partials: one k x k block per input
    // partition at most — derive from the REALIZED partition count
    // (ADVICE r13: a hardcoded 64 false-fails legitimately on sessions
    // with defaultParallelism > 64)
    val recBound = math.max(64L, pts.rdd.getNumPartitions.toLong) * k * k
    val okAssign = r.getLong(1) == n && purity >= 0.999 &&
      leaked.isEmpty && joins == 0 && maxRec <= recBound
    if (!okAssign) failures += 1
    println(f"[scale-100x-cluster] assign-purity   rows=${r.getLong(1)} " +
      f"purity=$purity%.5f (bound 0.999)  joins=$joins (bound 0)  " +
      f"payload-through-shuffle=${if (leaked.isEmpty) "NONE" else leaked.mkString(",")}  " +
      f"max-exchange-rows=$maxRec (bound $recBound)  ${secAssign}%6.1f s  " +
      s"${if (okAssign) "OK" else "FAIL"}")

    // distributed Lloyd transport at corpus scale (the r15 size dispatch
    // routes sub-8M-value fits driver-local, so the DISTRIBUTED
    // per-iteration reduce — the full-corpus 100 TB shape — needs its
    // own scale pin, the bayes100 discipline): 15M rows × 4 dims = 60M
    // values forces the distributed branch on its own; scheduler-level
    // bounds via the tagged per-iteration jobs — zero shuffle bytes
    // either direction (cached-partition scans only), task results
    // k×(d+1)-double-sized, and the planted mixture recovered.
    locally {
      val metrics = new SweepTransportMetrics
      spark.sparkContext.addSparkListener(metrics)
      val t2 = System.nanoTime()
      val lloyd = try {
        graft.clustering.LloydKMeans.fit(pts.select("features"), k,
          maxIter = 6, tol = 1e-6, seed = 42L)
      } finally {
        org.apache.spark.sql.GraftExpressionBridge
          .drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(metrics)
      }
      val secLloyd = (System.nanoTime() - t2) / 1e9
      val jobAggs = metrics.jobs.toSeq.sortBy(_._1).map(_._2)
      val iterJobs = jobAggs.filter(_.site.startsWith("LloydKMeans"))
      val maxIterResult =
        if (iterJobs.isEmpty) 0L else iterJobs.map(_.maxResult).max
      val worstLloyd = planted.map(p => lloyd.centers.map(d2(p, _)).min).max
      val okLloyd = iterJobs.nonEmpty && iterJobs.size <= 6 &&
        iterJobs.forall(j => j.shuffleWrite == 0 && j.shuffleRead == 0) &&
        maxIterResult <= 262144L && worstLloyd < 0.2
      if (!okLloyd) failures += 1
      println(f"[scale-100x-cluster] lloyd-transport tagged-iter-jobs=" +
        f"${iterJobs.size} (bound 6, all zero-shuffle: " +
        f"${iterJobs.forall(j => j.shuffleWrite == 0 && j.shuffleRead == 0)})  " +
        f"max-iter-task-result=${maxIterResult}B (bound 262144B)  " +
        f"worst-planted-distance=$worstLloyd%.4f (bound 0.2)  " +
        f"${secLloyd}%6.1f s  ${if (okLloyd) "OK" else "FAIL"}")
    }

    // distributed MINIBATCH transport at corpus scale (VERDICT r15 task
    // 2 — the last size-dispatched 100 TB path without a scheduler pin:
    // q266 oracle-gates the transport's RESULT, this pins its SHAPE).
    // localThreshold = 0 forces the per-batch reduce chain; every tagged
    // batch job must be a zero-shuffle cached-partition scan returning a
    // k×(d+1)-double-sized result — vs the ~16 MB/task a feature-sized
    // collect of this corpus would ship — and the batch-mean updates
    // must still recover the planted mixture.
    locally {
      val maxEpochs = 2; val batchesPerEpoch = 5
      val metrics = new SweepTransportMetrics
      spark.sparkContext.addSparkListener(metrics)
      val t3 = System.nanoTime()
      val mb = try {
        graft.clustering.MiniBatchKMeans.fit(pts.select("features"), k,
          batchFraction = 0.02, maxEpochs = maxEpochs,
          batchesPerEpoch = batchesPerEpoch, seed = 42L, localThreshold = 0L)
      } finally {
        org.apache.spark.sql.GraftExpressionBridge
          .drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(metrics)
      }
      val secMb = (System.nanoTime() - t3) / 1e9
      val jobAggs = metrics.jobs.toSeq.sortBy(_._1).map(_._2)
      val batchJobs = jobAggs.filter(_.site.startsWith("MiniBatchKMeans"))
      val maxBatchResult =
        if (batchJobs.isEmpty) 0L else batchJobs.map(_.maxResult).max
      val worstMb = planted.map(p => mb.centers.map(d2(p, _)).min).max
      val okMb = batchJobs.nonEmpty &&
        batchJobs.size <= maxEpochs * batchesPerEpoch &&
        batchJobs.forall(j => j.shuffleWrite == 0 && j.shuffleRead == 0) &&
        maxBatchResult <= 262144L && worstMb < 0.2
      if (!okMb) failures += 1
      println(f"[scale-100x-cluster] minibatch-transport tagged-batch-jobs=" +
        f"${batchJobs.size} (bound ${maxEpochs * batchesPerEpoch}, " +
        f"all zero-shuffle: " +
        f"${batchJobs.forall(j => j.shuffleWrite == 0 && j.shuffleRead == 0)})  " +
        f"max-batch-task-result=${maxBatchResult}B (bound 262144B)  " +
        f"worst-planted-distance=$worstMb%.4f (bound 0.2)  " +
        f"${secMb}%6.1f s  ${if (okMb) "OK" else "FAIL"}")
    }
    failures
  }

  /** 100x family eighteen: the validation-workflow scan contract at a
    * 15M-frame corpus. An ITS/CK study needs count matrices at a GRID of
    * lagtimes; `Validation.multiLagCounts` computes the whole grid in ONE
    * `TrajectoryScan` (a ring of max(lags) states per trajectory, sparse
    * (lag, s0, s1) counts per partition). Invariants:
    *   1. EQUALITY: the single-scan counts == per-lag `slidingCounts`
    *      (six separate scans), exactly, for every (lag, s0, s1);
    *   2. scan shape: the grid is ONE Spark job, carrying the grid's
    *      description, whose plan has exactly ONE exchange — the traj_id
    *      hash (data-sized, once) — and the driver receives at most
    *      partitions * |lags| * n² cells (each partition's cells are a
    *      subset of the merged grid's, so partitions * grid cells bounds
    *      them);
    *   3. ANALYTIC Chapman-Kolmogorov at scale: the planted chain gives
    *      empirical P̂(lag=L) ≈ T^L — L∞ < 0.005 at every grid lag;
    *   4. ANALYTIC implied timescales: the planted two-block chain has
    *      λ₂ = 1 − 2ε exactly, so ITS(L) = −1/ln λ₂ ≈ 166.2 steps FLAT
    *      across the grid (Markovian input) — each lag within 5%. */
  def its100(spark: SparkSession, src: String): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    var failures = 0
    val eps = 0.003
    val t6 = breeze.linalg.DenseMatrix.tabulate(6, 6) { (i, j) =>
      val sameBlock = (i < 3) == (j < 3)
      if (sameBlock) (1.0 - eps) / 3.0 else eps / 3.0
    }
    val dtraj = graft.data.MarkovSim.simulate(spark, t6, nTraj = 600,
      length = 25000, seed = 29L).localCheckpoint()
    val n = dtraj.count()
    val lags = Seq(1, 2, 5, 10, 20, 50)
    println(s"[scale-100x-its] corpus frames=$n lag grid=${lags.mkString(",")}")

    val t0 = System.nanoTime()
    val metrics = new SweepTransportMetrics
    spark.sparkContext.addSparkListener(metrics)
    val multi = try graft.markov.Validation.multiLagCounts(dtraj, lags) finally {
      org.apache.spark.sql.GraftExpressionBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(metrics)
    }
    val mm = multi.collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    val secMulti = (System.nanoTime() - t0) / 1e9
    val jobs = metrics.jobs.values.toSeq
    val tagged = jobs.count(_.site.startsWith("Validation multi-lag counts"))
    val exchanges = graft.lag.TrajectoryScan.plan(dtraj, Seq(col("state")))
      .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    val onTraj = exchanges.forall {
      case h: HashPartitioning => h.references.toSeq.map(_.name) == Seq("traj_id")
      case _ => false
    }
    val cells = exchanges.map(_.numPartitions).sum.toLong * mm.size
    val cellBound = exchanges.map(_.numPartitions).sum.toLong * lags.size * 6 * 6
    val okShape = jobs.size == 1 && tagged == 1 && exchanges.size == 1 && onTraj &&
      cells <= cellBound
    if (!okShape) failures += 1
    println(f"[scale-100x-its] one-scan grid   cells=${mm.size} jobs=${jobs.size} " +
      f"(want 1 tagged: $tagged) exchanges=${exchanges.size} (want 1: traj_id hash " +
      f"$onTraj) driver-cells<=$cells (bound partitions*|lags|*n²=$cellBound)  " +
      f"${secMulti}%6.1f s  ${if (okShape) "OK" else "FAIL"}")

    val t1 = System.nanoTime()
    var eqBad = 0L
    lags.foreach { tau =>
      val per = graft.markov.TransitionCounting.slidingCounts(dtraj, tau).collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
      val keys = per.keySet ++ mm.keysIterator.collect { case (l, a, b) if l == tau => (a, b) }
      keys.foreach { case (a, b) =>
        if (per.getOrElse((a, b), 0L) != mm.getOrElse((tau, a, b), 0L)) eqBad += 1
      }
    }
    val secEq = (System.nanoTime() - t1) / 1e9
    if (eqBad > 0) failures += 1
    println(f"[scale-100x-its] per-lag parity  mismatched-cells=$eqBad " +
      f"(six separate scans vs the one-scan grid)  ${secEq}%6.1f s  " +
      s"${if (eqBad == 0) "OK" else "FAIL"}")

    // analytic CK: empirical P(lag=L) vs T^L
    import breeze.linalg.DenseMatrix
    def tPow(l: Int): DenseMatrix[Double] = {
      var acc = DenseMatrix.eye[Double](6)
      (0 until l).foreach(_ => acc = acc * t6)
      acc
    }
    val ckBad = lags.map { tau =>
      val rowSums = Array.tabulate(6)(i =>
        (0 until 6).map(j => mm.getOrElse((tau, i, j), 0L)).sum.toDouble)
      val tl = tPow(tau)
      val linf = (for (i <- 0 until 6; j <- 0 until 6) yield
        math.abs(mm.getOrElse((tau, i, j), 0L) / math.max(1.0, rowSums(i)) -
          tl(i, j))).max
      (tau, linf)
    }
    val okCk = ckBad.forall(_._2 < 0.005)
    if (!okCk) failures += 1
    println("[scale-100x-its] chapman-kolmogorov Linf per lag: " +
      ckBad.map { case (l, v) => f"L$l=$v%.4f" }.mkString(" ") +
      s" (bound 0.005)  ${if (okCk) "OK" else "FAIL"}")

    // analytic ITS: flat at -1/ln(1 - 2 eps)
    val t2 = System.nanoTime()
    val its = graft.markov.Validation.impliedTimescales(dtraj, lags,
      nStates = 6, k = 1)
    val secIts = (System.nanoTime() - t2) / 1e9
    val want = -1.0 / math.log(1.0 - 2.0 * eps)
    val rel = its.lagtimes.indices.map(l =>
      math.abs(its.its(l)(0) - want) / want)
    val okIts = rel.max < 0.05
    if (!okIts) failures += 1
    println(f"[scale-100x-its] implied-ts      analytic=$want%.1f  measured=" +
      its.lagtimes.indices.map(l => f"${its.its(l)(0)}%.1f").mkString(",") +
      f"  max-rel-err=${rel.max}%.4f (bound 0.05, FLAT = Markovian)  " +
      f"${secIts}%6.1f s  ${if (okIts) "OK" else "FAIL"}")
    failures
  }

  /** 100x family twenty (VERDICT r13 task 3a): the effective-counts
    * single-scan all-pair indicator-ACF fan-out
    * (markov/EffectiveCounts.scala, q35/q36) at 15M frames. The scale
    * contract under audit: the reference's O(nnz · N) serial per-pair
    * ACF loop is replaced by one pass. The shape stage audits the
    * window-frame formulation (`acfPairCounts`): its explode (× |lags|)
    * is reduced MAP-SIDE — the ×25 row blowup must never cross a
    * shuffle, and the driver sees at most n³ · |lags| aggregated
    * sufficient-statistic rows regardless of corpus size. The estimator
    * stages run the streaming kernel behind `inefficienciesAndCounts`,
    * which must reproduce the analytic values below. Correctness
    * is analytic by planting an i.i.d.-state chain (all transition rows
    * = uniform π): every conditional target sequence is i.i.d., so all
    * indicator ACFs vanish, every statistical inefficiency is 1 and
    * effective counts equal raw counts — in fact ANY exactly-Markov
    * observed chain gives I = 1 (given s_t = i, s_{t+1} is independent
    * of the past), which is itself the second pin: effective counts
    * exist for NON-Markovian projections, so the opposite regime plants
    * a slow hidden regime h (stay prob 1-ε) observed through a noisy
    * 2-state emission (o = h w.p. 0.9) — the 4-state (h, o) product
    * chain is Markov but the PROJECTED o-trajectory is not, its
    * conditional targets ride the hidden dwell (~ε⁻¹ steps), and every
    * inefficiency must fall far below 1. */
  def effcounts100(spark: SparkSession): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    var failures = 0
    val nStates = 6
    val maxLag = 25
    val lags = 1 to maxLag
    val iid = breeze.linalg.DenseMatrix.fill(nStates, nStates)(1.0 / nStates)
    val dtraj = graft.data.MarkovSim.simulate(spark, iid, nTraj = 600,
      length = 25000, seed = 31L).localCheckpoint()
    val n = dtraj.count()
    println(s"[scale-100x-effc] corpus frames=$n states=$nStates maxLag=$maxLag")

    // shape: the pair-count plan (the exact frame the estimator
    // aggregates) — sufficient-stat rows bounded by n²·|lags|, and no
    // exchange carries the exploded (×|lags|) frame
    val t0 = System.nanoTime()
    val cond = graft.markov.EffectiveCounts.conditionalFrame(dtraj, 1)
    val pairs = graft.markov.EffectiveCounts.acfPairCounts(cond, lags)
    val pairRows = pairs.queryExecution.toRdd.count()
    val sec0 = (System.nanoTime() - t0) / 1e9
    val bound = nStates.toLong * nStates * nStates * maxLag
    val (maxRec, maxBytes, nEx) = exchangeMaxima(pairs)
    val cart = hasCartesian(pairs)
    // window hash exchanges carry ≤ n rows each; the post-explode
    // partial agg carries ≤ partitions · n² · |lags| — far under 2n.
    // An unreduced explode would push 25n rows through the last
    // exchange and fail loudly here.
    val okShape = pairRows <= bound && maxRec < 2 * n && !cart
    if (!okShape) failures += 1
    println(f"[scale-100x-effc] pair-scan  stat-rows=$pairRows (bound $bound)  " +
      f"exchanges=$nEx max-exchange-rows=$maxRec (bound ${2 * n})  " +
      f"max-exchange-MB=${maxBytes / 1e6}%7.1f cartesian=$cart  " +
      f"${sec0}%6.1f s  ${if (okShape) "OK" else "FAIL"}")

    // analytic: i.i.d. targets → I_ij = 1, c_eff = c (entrywise)
    val t1 = System.nanoTime()
    val (ineff, c) = graft.markov.EffectiveCounts.inefficienciesAndCounts(
      dtraj, 1, nStates, maxLag = maxLag)
    val ceff = graft.markov.EffectiveCounts.effectiveCountMatrix(
      dtraj, 1, nStates, maxLag = maxLag)
    val sec1 = (System.nanoTime() - t1) / 1e9
    val cells = for (i <- 0 until nStates; j <- 0 until nStates if c(i, j) > 0) yield (i, j)
    val iErr = cells.map { case (i, j) => math.abs(ineff(i, j) - 1.0) }.max
    val cErr = cells.map { case (i, j) =>
      math.abs(ceff(i, j) - c(i, j)) / c(i, j) }.max
    val okIid = iErr < 0.1 && cErr < 0.1
    if (!okIid) failures += 1
    println(f"[scale-100x-effc] iid-chain  max|I-1|=$iErr%.4f (bound 0.1)  " +
      f"max-rel|ceff-c|=$cErr%.4f (bound 0.1)  ${sec1}%6.1f s  " +
      f"${if (okIid) "OK" else "FAIL"}")

    // non-Markovian projection: hidden regime h switches slowly
    // (stay 1-ε), observed o = h w.p. 0.9 — product state = 2h + o is
    // Markov, the projected o-trajectory is NOT: its conditional
    // targets are pinned to the hidden dwell, so I ≪ 1 everywhere
    val eps = 0.001 // dwell ~1000 steps ≫ the 60-lag ACF horizon, so
                    // the indicator ACF stays near its ceiling across it
    val emit = 0.9
    val t4 = breeze.linalg.DenseMatrix.tabulate(4, 4) { (s, s2) =>
      val (h, h2, o2) = (s / 2, s2 / 2, s2 % 2)
      val ph = if (h2 == h) 1.0 - eps else eps
      val po = if (o2 == h2) emit else 1.0 - emit
      ph * po
    }
    val hidden = graft.data.MarkovSim.simulate(spark, t4, nTraj = 600,
      length = 25000, seed = 37L)
    val proj = hidden.withColumn("state", col("state") % 2).localCheckpoint()
    val t2 = System.nanoTime()
    // longer ACF horizon here: the hidden dwell spans ~ε⁻¹ conditional
    // lags, and the tent-window sum needs enough of it to push the
    // correlation time well past 2.5 (the 25-lag horizon of the shape
    // stage would truncate corrtime at ~1.7 even for perfectly
    // correlated targets)
    val ineffS = graft.markov.EffectiveCounts.statisticalInefficiencies(
      proj, 1, 2, maxLag = 60)
    val sec2 = (System.nanoTime() - t2) / 1e9
    val maxProj = (for (i <- 0 until 2; j <- 0 until 2) yield ineffS(i, j)).max
    val okProj = maxProj < 0.2
    if (!okProj) failures += 1
    println(f"[scale-100x-effc] hidden-regime  max I=$maxProj%.4f " +
      f"(bound 0.2: non-Markovian targets must be heavily discounted)  " +
      f"${sec2}%6.1f s  ${if (okProj) "OK" else "FAIL"}")
    failures
  }

  /** 100x family twenty-one (VERDICT r13 task 3b): the interval/range
    * join (operators/Joins.scala rangeJoin, q109) under adversarial
    * interval-length skew — ONE interval spanning the whole domain while
    * 100k cold intervals stay 2 units wide. The bucket decomposition's
    * scale contract: the hot interval is REPLICATED once per domain
    * bucket (1000 tiny rows, never a hot partition), the join stays a
    * hash equi-join on the bucket key (no BroadcastNestedLoopJoin, no
    * cartesian), exchanges stay input-proportional (the ×matches output
    * explosion happens join-side and is never re-shuffled), and the
    * 18M-row output under the planted grid is CLOSED-FORM exact. */
  def rangejoin100(spark: SparkSession): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    var failures = 0
    val nPts = 15000000L
    // points on an exact 1/15 grid over [0, 1e6): x = k / 15 hits
    // integer (and bucket) boundaries exactly in double arithmetic
    val points = spark.range(nPts)
      .select((col("id") / 15.0).as("x"), col("id").as("pid"))
    val nCold = 100000L
    // cold lo ∈ [0, 999000): every width-2 interval matches exactly 31
    // grid points (15·2 + 1) with no domain-edge truncation
    val cold = spark.range(nCold)
      .select(col("id").as("iid"),
        (col("id") * 9973L % 999000L).cast("double").as("lo"))
      .withColumn("hi", col("lo") + 2.0)
    val hot = spark.range(1)
      .select(lit(-1L).as("iid"), lit(0.0).as("lo"), lit(999000.0).as("hi"))
    val intervals = cold.unionByName(hot)
    val joined = graft.operators.Joins.rangeJoin(
      points, "x", intervals, "lo", "hi", bucketWidth = 1000.0)

    val t0 = System.nanoTime()
    val outRows = joined.queryExecution.toRdd.count()
    val sec = (System.nanoTime() - t0) / 1e9
    // closed form: 100k cold × 31 grid points + hot ⊇ all x ≤ 999000
    // (k ≤ 14,985,000 → 14,985,001 points)
    val expect = nCold * 31L + 14985001L
    val okRows = outRows == expect
    if (!okRows) failures += 1
    println(f"[scale-100x-rjoin] output rows=$outRows (closed form $expect)  " +
      f"${sec}%6.1f s  ${if (okRows) "OK" else "FAIL"}")

    val nodes = allPlanNodes(joined)
    val bnl = nodes.exists(_.nodeName.contains("BroadcastNestedLoop"))
    val cart = hasCartesian(joined)
    val (maxRec, maxBytes, nEx) = exchangeMaxima(joined)
    // exchanges carry the point table once (15M) and the bucket-exploded
    // interval table (~101k: cold + ~200 bucket-boundary crossers + the
    // hot interval's 1000 replicas) — output (18M) is never re-shuffled
    val okShape = !bnl && !cart && maxRec <= (nPts * 11) / 10
    if (!okShape) failures += 1
    println(f"[scale-100x-rjoin] plan  exchanges=$nEx max-exchange-rows=$maxRec " +
      f"(bound ${nPts * 11 / 10})  max-exchange-MB=${maxBytes / 1e6}%7.1f  " +
      f"bnl-join=$bnl cartesian=$cart  ${if (okShape) "OK" else "FAIL"}")

    // skew: the hot interval's matches must spread across tasks — no
    // output partition may hold more than a small multiple of its fair
    // share (the decomposition assigns the hot interval's work bucket
    // by bucket, so a domain-spanning interval cannot pin one task)
    val partRows = joined.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(it.size.toLong)).collect()
    val maxPart = partRows.max
    val fair = expect / math.max(1, partRows.length)
    val okSkew = maxPart < 8 * fair
    if (!okSkew) failures += 1
    println(f"[scale-100x-rjoin] skew  out-partitions=${partRows.length} " +
      f"max-partition-rows=$maxPart (fair $fair, bound ${8 * fair})  " +
      f"${if (okSkew) "OK" else "FAIL"}")
    failures
  }

  /** 100x family nineteen: SINDy system identification at a 15M-frame
    * corpus — 3,000 jittered Lorenz trajectories generated DISTRIBUTED
    * (RK4, one seeded task per trajectory), windowed-FD differentiated
    * map-side, and reduced through ONE treeAggregate of p×p normal
    * equations (p = 10 monomials; nothing row-sized on the driver — the
    * moments100 aggregation shape applied to regression). Invariants:
    *   1. RECOVERY: all seven Lorenz coefficients within the SindySpec
    *      tolerances at 100x the spec's corpus;
    *   2. SPARSITY: exactly the seven true terms survive STLSQ — no
    *      spurious library terms at any magnitude above 1e-6;
    *   3. the corpus never concentrates: generation, differentiation and
    *      the library lift are all map-side (timed). */
  def sindy100(spark: SparkSession, src: String): Int = {
    var failures = 0
    val h = 2e-5; val sub = 100; val dt = h * sub
    val t0 = System.nanoTime()
    val traj = graft.data.Generators.odeTrajectories(spark,
        graft.data.Generators.Lorenz, Array(Array(-8.0, 8.0, 27.0)),
        nTraj = 3000, length = 5000, seed = 41L, jitter = 2.0,
        h = h, nSteps = sub)
      .localCheckpoint()
    val n = traj.count()
    val secGen = (System.nanoTime() - t0) / 1e9
    println(f"[scale-100x-sindy] corpus frames=$n (3000 jittered Lorenz " +
      f"trajectories, RK4 distributed)  gen=${secGen}%6.1f s")

    val t1 = System.nanoTime()
    val model = graft.sindy.Sindy.fit(traj, inputDim = 3, degree = 2,
      threshold = 0.5, alpha = 1e-10, dt = dt)
    val secFit = (System.nanoTime() - t1) / 1e9
    val names = model.featureNames
    val iX = names.indexOf("x0"); val iY = names.indexOf("x1")
    val iZ = names.indexOf("x2"); val iXZ = names.indexOf("x0 x2")
    val iXY = names.indexOf("x0 x1")
    val expected = Seq( // (row, col, value, tol) — the Lorenz system
      (0, iX, -10.0, 0.3), (0, iY, 10.0, 0.3),
      (1, iX, 28.0, 0.8), (1, iY, -1.0, 0.3), (1, iXZ, -1.0, 0.05),
      (2, iXY, 1.0, 0.05), (2, iZ, -8.0 / 3.0, 0.3))
    val coefErrs = expected.map { case (r, c, v, tol) =>
      (s"c($r,${names(c)})", math.abs(model.coef(r, c) - v), tol)
    }
    val okRecover = coefErrs.forall { case (_, e, tol) => e < tol }
    val nTerms = (for (r <- 0 until 3; c <- names.indices
                       if math.abs(model.coef(r, c)) > 1e-6) yield 1).sum
    val okSparse = nTerms == 7
    if (!okRecover || !okSparse) failures += 1
    println("[scale-100x-sindy] lorenz-recovery " +
      coefErrs.map { case (nm, e, tol) => f"$nm=|err $e%.3f|<$tol" }.mkString(" "))
    println(f"[scale-100x-sindy] fit             nonzero-terms=$nTerms " +
      f"(want exactly 7)  ${secFit}%6.1f s  " +
      s"${if (okRecover && okSparse) "OK" else "FAIL"}")
    failures
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SCALE_SRC", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SCALE_DIR", "/tmp/graft_sf1")
    val spark = graft.GraftSession()
    if (args.headOption.exists(families100.contains)) {
      val out100 = sys.env.getOrElse("SCALE_DIR_100", "/tmp/graft_sf10")
      val failures = run100x(spark, args.head, src, out100)
      println(if (failures == 0) "[scale-100x] ALL INVARIANTS HOLD"
              else s"[scale-100x] $failures FAILURES")
      spark.stop()
      if (failures > 0) sys.exit(1)
      return
    }
    val failures = run10x(spark, src, out)
    println(if (failures == 0) "[scale-audit] ALL INVARIANTS HOLD"
            else s"[scale-audit] $failures FAILURES")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** The full 10x battery; returns its failure count. */
  def run10x(spark: SparkSession, src: String, out: String): Int = {
    buildCorpus(spark, src, out)

    val targets = Seq("q21_minhash_candidates", "q76_dup_clusters",
      "q86_cosine_neardup", "q92_dup_spans", "q104_dedup_keep_best",
      "q116_image_ahash", "q117_tfidf_topk", "q118_naive_bayes",
      "q119_embedding_outliers", "q127_containment", "q128_cross_source_dup",
      "q129_trigram_backoff", "q131_html_strip", "q132_temperature_mixture",
      "q133_bmp_decode", "q166_chunk_dedup", "q169_contamination_coverage",
      "q171_proto_prune",
      // fifth-batch docs/embeddings-only rungs: CCNet buckets, random
      // projection (zero-exchange), mutual-kNN + kNN-eval (fixed slice),
      // dataset card, URL canon, BM25, RRF fusion
      "q200_ccnet_buckets", "q201_random_projection", "q202_mutual_knn",
      "q205_dataset_card", "q207_url_canonical", "q213_knn_classify",
      "q220_bm25", "q221_rrf_fusion")
    var failures = 0
    targets.foreach { name =>
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, out)
      // execute the AUDITED plan itself (toRdd, not count(): count builds
      // a different QueryExecution, leaving df's adaptive plan unexecuted
      // — the inspected exchanges must be the ones that actually ran)
      val qe = df.queryExecution
      val rows = qe.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val leaked = shuffledPayloadColumns(df)
      val cart = hasCartesian(df)
      val ok = leaked.isEmpty && !cart
      if (!ok) failures += 1
      println(f"[scale-audit] $name%-24s rows=$rows%-8d ${sec}%.2f s  " +
        s"payload-through-shuffle=${if (leaked.isEmpty) "NONE" else leaked.mkString(",")}  " +
        s"cartesian=$cart  ${if (ok) "OK" else "FAIL"}")
    }
    // q101 composes the whole curation chain; its exact-dedup stage IS
    // the pipeline's one documented corpus-keyed shuffle, so the
    // invariant here is AT MOST ONE exchange carrying text (gate/LM/
    // sample/pack must not add another), plus no cartesian
    locally {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries("q101_curation_pipeline")(spark, out)
      val qe = df.queryExecution
      val rows = qe.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val textExchanges = allPlanNodes(df).count {
        case e: ShuffleExchangeExec => e.output.exists(_.name == "text")
        case _ => false
      }
      val cart = hasCartesian(df)
      val ok = textExchanges <= 1 && !cart
      if (!ok) failures += 1
      println(f"[scale-audit] q101_curation_pipeline   rows=$rows%-8d ${sec}%.2f s  " +
        s"text-exchanges=$textExchanges (bound 1)  cartesian=$cart  ${if (ok) "OK" else "FAIL"}")
    }

    // invariant 3 — q76's duplicate graph stays edge-proportional: the
    // verified-pair count at 10x must remain far under the 1M-edge driver
    // union-find bound (a super-linear candidate blowup fails here)
    val d10 = spark.read.parquet(s"$out/documents.parquet")
    val edges = graft.dedup.Dedup.ngramJaccard(d10,
      graft.dedup.Dedup.minhashCandidates(d10, bands = 8, rowsPerBand = 5)
        .localCheckpoint(), 5)
      .where(org.apache.spark.sql.functions.col("jaccard") >= 0.6).count()
    val edgeOk = edges < 1000000L
    if (!edgeOk) failures += 1
    println(s"[scale-audit] q76 duplicate-graph edges=$edges " +
      s"(driver union-find bound 1000000) ${if (edgeOk) "OK" else "FAIL"}")

    // invariant 4 — SemDeDup's within-cluster quadratic sweep stays
    // bounded: with auto-scaled nClusters (default), the REALIZED max
    // cell size at the 10x corpus must stay within a small multiple of
    // the target (k-means imbalance allowance 6x), so Σ|cell|² cannot
    // silently go quadratic in corpus size (VERDICT r06 item 6)
    locally {
      val emb10 = spark.read.parquet(s"$out/embeddings.parquet")
      val cells = graft.similarity.Similarity.semDedup(emb10, tau = 0.3, seed = 42L)
      val maxCell = cells.groupBy("cell").count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      val target = 4096L
      val cellOk = maxCell <= 6L * target
      if (!cellOk) failures += 1
      println(s"[scale-audit] semdedup max cell=$maxCell " +
        s"(target $target, bound ${6L * target}) ${if (cellOk) "OK" else "FAIL"}")
    }

    // invariant 6 — the edit-distance join's candidate generation stays
    // LINEAR at 10x: on this near-uniform-length corpus all-pairs
    // length blocking measured 38M candidates (corpus-quadratic), so
    // the operator caps buckets at maxBucketSize and degrades over-cap
    // buckets to a sorted-neighborhood sweep — the audit pins the
    // DEFAULT-parameter candidate count under exactBound + N*snmWindow
    // (with cap 512 here so the fallback provably engages at 10x; the
    // sf0.01/sf0.1 test corpora stay in the exact regime, which is what
    // the q153 oracle replays). The verify stage is not run at 10x.
    locally {
      val w = 9
      val bucketCounts = d10
        .select((org.apache.spark.sql.functions.length(col("text")) / w)
          .cast("long").as("bkt"))
        .groupBy("bkt").count().collect().map(_.getLong(1))
      val maxBucket = bucketCounts.max
      val cap = 512L
      val snmW = 16L
      val nDocs10 = bucketCounts.sum
      // exact-regime bound: small buckets pair within themselves and to
      // the next bucket; over-cap rows contribute <= snmWindow each
      val small = bucketCounts.filter(_ <= cap)
      val exactBound = small.map(n => n * n).sum + small.map(n => n * cap).sum
      val bound = exactBound + nDocs10 * snmW
      val cands = graft.dedup.Dedup.lengthBucketCandidates(d10, maxDist = 8,
        maxBucketSize = cap.toInt, snmWindow = snmW.toInt).count()
      val bktOk = cands <= bound && cands < 5000000L
      if (!bktOk) failures += 1
      println(s"[scale-audit] q153 length-blocking max bucket=$maxBucket, " +
        s"candidates=$cands (linear bound $bound, hard bound 5000000) " +
        s"${if (bktOk) "OK" else "FAIL"}")
    }

    // invariant 7 — the PQ ANN scan at 10x: the ADC pass must scan CODES
    // (m ints/vector), never shuffle an embedding payload (vectors rejoin
    // candidate-driven for the exact re-rank only), and deliver exactly
    // k rows per query
    locally {
      val emb10 = spark.read.parquet(s"$out/embeddings.parquet")
      val q = emb10.where(col("vec_id") % 400 === 0)
      val df = graft.similarity.Similarity.pqTopK(emb10, q, k = 5, dim = 64,
        m = 8, ksub = 64, shortlist = 48, seed = 42L)
      val qe = df.queryExecution
      val rows = qe.toRdd.count()
      val nq = q.count()
      val leaked = shuffledPayloadColumns(df)
      val pqOk = leaked.isEmpty && rows == nq * 5
      if (!pqOk) failures += 1
      println(s"[scale-audit] q165 pq scan rows=$rows (expect ${nq * 5})  " +
        s"payload-through-shuffle=${if (leaked.isEmpty) "NONE" else leaked.mkString(",")}  " +
        s"${if (pqOk) "OK" else "FAIL"}")
    }

    // invariant 8 — prototypicality pruning's per-cell rank window stays
    // cell-bounded with auto-scaled clusters, same discipline as the
    // semdedup bound (the window shuffles (id, cell, proto) rows only —
    // covered by the q171 payload audit above; here the cell-size bound)
    locally {
      val emb10 = spark.read.parquet(s"$out/embeddings.parquet")
      val cells = graft.similarity.Similarity.prototypicalityPrune(
        emb10, dropFrac = 0.25, seed = 42L)
      val maxCell = cells.groupBy("cell").count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      val target = 4096L
      val cellOk = maxCell <= 6L * target
      if (!cellOk) failures += 1
      println(s"[scale-audit] proto-prune max cell=$maxCell " +
        s"(target $target, bound ${6L * target}) ${if (cellOk) "OK" else "FAIL"}")
    }

    // invariant 5 — the exact-jaccard reporting rungs (q20/q127) pair a
    // FIXED-COUNT selection: the candidate id set must stay at its cap
    // (256) however large the corpus, so the crossJoin is constant-size
    locally {
      val sel20 = d10.where(col("doc_id") % 97 === 0)
        .orderBy(col("doc_id")).limit(256).count()
      val selOk = sel20 <= 256L
      if (!selOk) failures += 1
      println(s"[scale-audit] q20 selection rows=$sel20 (cap 256) " +
        s"${if (selOk) "OK" else "FAIL"}")
    }
    println(s"[scale-audit] corpus docs=${d10.count()} " +
      s"embeddings=${spark.read.parquet(s"$out/embeddings.parquet").count()}")
    failures
  }
}
