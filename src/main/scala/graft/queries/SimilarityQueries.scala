package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Trajectories
import graft.lag.Lag
import graft.agg.Covariance
import graft.linalg.LinAlg
import graft.markov.TransitionCounting
import graft.text.{Bpe, Packing, Pii, Scoring, TextFunctions}
import graft.dedup.Dedup
import graft.operators.Joins
import graft.similarity.Similarity
import graft.queries.QShared._

/** SimilarityQueries: ANN (brute/LSH/IVF), quantized cosine, embedding near-dup, SemDeDup, outliers, hard negatives.
  *
  * One slice of the driver-contract registry (VERDICT r06 item 8 split
  * of the 5,000-line SparkEntry monolith). Entry bodies are UNCHANGED;
  * graft.SparkEntry merges every family into the single `queries` /
  * `oracleSql` maps the driver consumes, and ContractSpec keeps the
  * key sets equal. */
private[graft] object SimilarityQueries extends QueryFamily {
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- per-class embedding outliers (q119): the CLIP-score-filtering
    // analog — per label, the element-wise mean centroid; each vector's
    // cosine to its OWN class centroid; bottom-3 per class (rounded-cos
    // asc, vec_id tie-break) are the mislabeled/noise candidates a
    // curation pass drops. Scale shape: centroids via map-side-combined
    // (label, dim) partial sums (shuffle carries nClasses x dim doubles
    // per partition, not vectors), broadcast back; cosine is the fused
    // native expression; the rank filter is WindowGroupLimit-pushed. ----
    "q119_embedding_outliers" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      val cent = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("label", "i").agg(avg(col("x")).as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
          t => t.getField("c")).as("cv"))
      val sc = e.join(broadcast(cent), "label")
        .select(col("label"), col("vec_id"),
          round(graft.functions.ArrayNumeric.cosine(col("v"), col("cv")), 6)
            .as("cos_c"))
      val w = Window.partitionBy("label").orderBy(col("cos_c"), col("vec_id"))
      sc.withColumn("rk", row_number().over(w).cast("long")).where(col("rk") <= 3)
    }),

    // ---- trajectory similarity search (q162): top-k similar USERS by
    // their event-value time-series — the REPOSE-style distributed
    // trajectory search reduced to its scale skeleton: each trajectory
    // compresses to a fixed 8-bucket positional-resample signature
    // (one scan + one user-keyed aggregation), queries are a fixed
    // slice, and the search is a signature-table pass — the raw series
    // never pairs, never shuffles twice. Users with < 8 events are out
    // of scope (every bucket nonempty). Bucket means are rounded
    // BEFORE the distance (both sides), ranking uses the rounded
    // distance with a user tie-break. ----------------------------------
    "q162_traj_similarity" -> ((s, dir) => {
      // signature table materialized once per (session, dir) — it is the
      // index a trajectory-search pipeline persists (REPOSE builds its
      // signatures offline); it feeds the query slice AND the probe, and
      // repeat searches in one session reuse it
      val sig = memoFrame(s, dir, "trajSig") {
        val ev = Trajectories.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        val wo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        ev.withColumn("rn", row_number().over(wo))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
          .where(col("n") >= 8)
          .withColumn("b", expr("((rn - 1) * 8) div n"))
          .groupBy(col("user_id"), col("b"))
          .agg(round(avg(col("value")), 6).as("s"))
      }
      val q = sig.where(col("user_id") % 20 === 0)
        .select(col("user_id").as("qid"), col("b"), col("s").as("qs"))
      val dists = sig.join(broadcast(q), Seq("b"))
        .where(col("user_id") =!= col("qid"))
        .groupBy(col("qid"), col("user_id"))
        .agg(round(sum((col("s") - col("qs")) * (col("s") - col("qs"))), 6)
          .as("dist"))
      val wr = Window.partitionBy("qid").orderBy(col("dist"), col("user_id"))
      dists.withColumn("rk", row_number().over(wr).cast("long"))
        .where(col("rk") <= 3)
    }),

    // ---- hard-negative mining (q122): contrastive-training data prep —
    // for each of 20 deterministic anchor vectors, the top-3 most-cosine-
    // similar vectors with a DIFFERENT label (the "hard negatives" an
    // embedding trainer pairs with positives). Brute rung of the q23/q28
    // ANN family: anchors broadcast, fused native cosine, rank on the
    // ROUNDED score (vec_id tie-break); the LSH/IVF rungs apply unchanged
    // at corpus scale with the label-exclusion pushed into the candidate
    // filter. -----------------------------------------------------------
    "q122_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      val anchors = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
          col("v").as("av"))
      val scored = e.join(broadcast(anchors), col("label") =!= col("anchor_label"))
        .select(col("anchor_id"), col("vec_id"),
          round(graft.functions.ArrayNumeric.cosine(col("v"), col("av")), 6)
            .as("cos_hn"))
      val w = Window.partitionBy("anchor_id")
        .orderBy(col("cos_hn").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
    }),

    // ---- similarity search --------------------------------------------
    "q23_ann_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = broadcast(e.where(col("vec_id") % 40 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(Similarity.cosine(col("qv"), col("cv")), 6).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 5)
    }),

    "q24_embedding_norms" -> ((s, dir) => {
      emb(s, dir).select(col("vec_id"), col("label"),
        round(Similarity.norm(col("embedding")), 6).as("l2norm"))
    }),

    // int8-quantized cosine vs exact cosine on consecutive-id pairs: the
    // quantization (scale = maxabs/127, half-away rounding) and the
    // quantized cosine (integer arithmetic, scales cancel) are both
    // engine-portable, so the DuckDB oracle recomputes every value — the
    // 8x-compression ANN path is value-checked, and the emitted |error|
    // column doubles as the accuracy contract (~1e-2 at dim 64).
    "q77_quantized_cosine" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"),
        Similarity.quantizeInt8(col("embedding")).as("qv"))
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"), col("qv").as("qa"))
      val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"), col("qv").as("qb"))
      a.join(b, col("idb") === col("ida") + 1)
        .select(col("ida"), col("idb"),
          round(Similarity.quantizedCosine(col("qa"), col("qb")), 6).as("qcos"),
          round(abs(Similarity.quantizedCosine(col("qa"), col("qb")) -
            Similarity.cosine(col("va").cast("array<double>"), col("vb").cast("array<double>"))), 3)
            .as("abs_err"))
    }),

    // Oracle: DuckDB SIMULATES the full LSH pipeline (sign-plane buckets
    // embedded as literal +- terms -> candidate join -> exact re-rank), so
    // the approximate result is hash-checked exactly, not skipped.
    "q28_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e, e.where(col("vec_id") % 40 === 0), 5, dim = 64)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          round(col("cos"), 6).as("cos"))
    }),

    // Recall@5 of LSH vs brute force, per query — wide-bucket parametrization
    // (nPlanes=2, numTables=8) appropriate for this corpus's near-uniform
    // geometry (see Similarity.lshTopK note). DuckDB simulates BOTH pipelines
    // and computes the same recall number exactly.
    "q68_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") % 40 === 0)
      val lsh = Similarity.lshTopK(e, q, 5, dim = 64, nPlanes = 2, numTables = 8)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val brute = Similarity.bruteForceTopK(e, q, 5)
        .select(col("query_id"), col("neighbor_id"))
      brute.join(lsh, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(col("query_id"), col("hits"), (col("hits") / 5.0).as("recall"))
    }),

    // ---- IVF ANN -------------------------------------------------------
    // The k-means codebook isn't SQL-reproducible, so the oracle
    // gates the CONTRACT instead: recall@5 vs the in-query brute force
    // (>= 0.9, the VERDICT r02 bar), exactly 5 results per query, and the
    // query count (exact SQL twin). A recall drop — from codebook drift,
    // probe-routing bugs, or re-rank errors — flips the hash.
    "q64_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") % 40 === 0)
      // nProbe=6/8: this synthetic corpus is near-uniform on the sphere —
      // the worst case for a coarse quantizer (true neighbors scatter
      // across cells; measured recall@5 by nProbe at sf0.01:
      // 3 -> 0.71, 4 -> 0.80, 5 -> 0.89, 6 -> 0.95) — so meeting the 0.9
      // recall bar costs 6/8 of the cells. On clustered real corpora the
      // same pipeline meets it at much lower probe fractions (IvfSpec).
      val ivf = Similarity.ivfTopK(e, q, k = 5, nCells = 8, nProbe = 6, seed = 42L)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val brute = Similarity.bruteForceTopK(e, q, 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val perQ = ivf.join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"), count(lit(1)).as("k"))
      val row = perQ.agg(avg(col("hits") / 5.0).as("recall"),
        max(abs(col("k") - 5)).as("kviol"), count(lit(1)).as("nq")).collect()(0)
      checksDf(s, Seq(
        "recall_below_0p9" -> math.max(0.0, 0.9 - row.getDouble(0)),
        "results_per_query_minus_5" -> row.getLong(1).toDouble,
        "n_queries" -> row.getLong(2).toDouble))
    }),

    // ---- PQ ANN (q165): product-quantized corpus scan (Jégou et al.
    // 2011) — per-subspace codebooks on a row-capped sample, m-int codes,
    // broadcast per-query ADC lookup tables, native PqAdcScore codegen
    // scan, WindowGroupLimit shortlist, exact re-rank. Like q64 the
    // codebook isn't SQL-reproducible, so the oracle gates the CONTRACT:
    // recall@5 vs in-query brute force (>= 0.9 — on this near-uniform
    // sphere corpus a 64-float -> 8-byte (32x) compression still ranks
    // true neighbors into a 48-deep shortlist), exactly 5 results per
    // query, exact query count, and the compression ratio itself
    // (dim * 4 bytes vs m code bytes = 32, a literal contract). --------
    "q165_ann_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") % 40 === 0)
      val pq = Similarity.pqTopK(e, q, k = 5, dim = 64, m = 8, ksub = 64,
          shortlist = 48, seed = 42L)
        .select(col("query_id"), col("neighbor_id"))
      val brute = Similarity.bruteForceTopK(e, q, 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val perQ = pq.join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"), count(lit(1)).as("k"))
      val row = perQ.agg(avg(col("hits") / 5.0).as("recall"),
        max(abs(col("k") - 5)).as("kviol"), count(lit(1)).as("nq")).collect()(0)
      checksDf(s, Seq(
        "recall_below_0p9" -> math.max(0.0, 0.9 - row.getDouble(0)),
        "results_per_query_minus_5" -> row.getLong(1).toDouble,
        "n_queries" -> row.getLong(2).toDouble,
        "compression_ratio" -> (64.0 * 4.0) / 8.0))
    }),

    // ---- D4-style prototypicality pruning (q171): after SemDeDup (q99),
    // the second D4 leg — drop the most-prototypical 25% of every k-means
    // cell (cosine-to-own-centroid rank). The k-means codebook isn't
    // SQL-reproducible, so the oracle gates the CONTRACT: per-cell drop
    // counts match ceil(0.25*|cell|) exactly, no kept vector outranks a
    // dropped one within its cell (beyond fp epsilon), and the total
    // vector count is exact SQL. ----------------------------------------
    "q171_proto_prune" -> ((s, dir) => {
      val pruned = Similarity.prototypicalityPrune(
        emb(s, dir), dropFrac = 0.25, nClusters = 8, seed = 42L)
      val cells = pruned.groupBy("cell").agg(
        count(lit(1)).as("n"),
        sum(when(col("keep") === 0, 1L).otherwise(0L)).as("dropped"),
        max(when(col("keep") === 1, col("proto"))).as("max_kept"),
        min(when(col("keep") === 0, col("proto"))).as("min_dropped"))
        .collect()
      // row: (cell, n, dropped, max_kept, min_dropped)
      val dropViol = cells.map(r =>
        math.abs(r.getLong(2) - math.ceil(r.getLong(1) * 0.25).toLong)).sum
      val orderViol = cells.count { r =>
        !r.isNullAt(3) && !r.isNullAt(4) && r.getDouble(3) > r.getDouble(4) + 1e-12
      }
      val nTotal = cells.map(_.getLong(1)).sum
      checksDf(s, Seq(
        "drop_count_viol" -> dropViol.toDouble,
        "order_viol" -> orderViol.toDouble,
        "n_vectors" -> nTotal.toDouble))
    }),

    // ---- orthogonal Procrustes alignment (q176): the embedding-
    // migration op — a "retrained" embedding version is simulated by a
    // deterministic orthogonal transform (seeded coordinate permutation +
    // sign pattern) of the real vectors; Procrustes.align must recover a
    // rotation that is exactly orthogonal and drives the alignment
    // residual to machine zero (the cross-gram is one treeAggregate of
    // rank-1 outer products, the SVD a driver d×d solve). Battery oracle:
    // exact-zero residuals + the exact corpus count. --------------------
    "q176_procrustes_align" -> ((s, dir) => {
      val d = 64
      val rnd = new scala.util.Random(7)
      val perm = rnd.shuffle((0 until d).toVector).toArray
      val sign = Array.tabulate(d)(j =>
        if (scala.util.hashing.MurmurHash3.productHash((13, j)) >= 0) 1.0 else -1.0)
      val toB = udf { (a: Seq[Double]) =>
        Array.tabulate(d)(j => sign(j) * a(perm(j))).toSeq
      }
      val pairs = emb(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("va"))
        .withColumn("vb", toB(col("va")))
      val r = graft.similarity.Procrustes.align(pairs, "va", "vb", d)
      // orthogonality: max |RᵀR − I|
      val orth = (0 until d).flatMap { i =>
        (0 until d).map { j =>
          val dot = (0 until d).map(k => r(k)(i) * r(k)(j)).sum
          math.abs(dot - (if (i == j) 1.0 else 0.0))
        }
      }.max
      val rBc = s.sparkContext.broadcast(r)
      val mseU = udf { (a: Seq[Double], b: Seq[Double]) =>
        val rr = rBc.value
        var sAligned = 0.0; var sRaw = 0.0
        var j = 0
        while (j < d) {
          var p = 0.0; var i = 0
          while (i < d) { p += a(i) * rr(i)(j); i += 1 }
          sAligned += (p - b(j)) * (p - b(j))
          sRaw += (a(j) - b(j)) * (a(j) - b(j))
          j += 1
        }
        Seq(sAligned / d, sRaw / d)
      }
      val row = pairs.select(mseU(col("va"), col("vb")).as("m"))
        .agg(avg(element_at(col("m"), 1)).as("aligned"),
          avg(element_at(col("m"), 2)).as("raw"),
          count(lit(1)).as("n")).collect()(0)
      checksDf(s, Seq(
        "r_orthogonality" -> orth,
        "aligned_mse" -> row.getDouble(0),
        "aligned_worse_than_raw" -> math.max(0.0, row.getDouble(0) - row.getDouble(1)),
        "n_vectors" -> row.getLong(2).toDouble))
    }),

    // ---- IVF+PQ composed ANN (q192): the 100 TB production shape — the
    // coarse quantizer cuts WHICH rows scan (6/8 cells), PQ codes cut
    // WHAT a scanned row costs (8 bytes, native ADC), shortlist 64 exact
    // re-rank. Same contract gate as q64/q165; on this near-uniform
    // sphere the composition's recall floor is the binding constraint,
    // so the gate is the q64 bar. ---------------------------------------
    "q192_ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") % 40 === 0)
      val ann = Similarity.ivfPqTopK(e, q, k = 5, dim = 64, nCells = 8,
          nProbe = 6, m = 8, ksub = 64, shortlist = 64, seed = 42L)
        .select(col("query_id"), col("neighbor_id"))
      val brute = Similarity.bruteForceTopK(e, q, 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val perQ = ann.join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"), count(lit(1)).as("k"))
      val row = perQ.agg(avg(col("hits") / 5.0).as("recall"),
        max(abs(col("k") - 5)).as("kviol"), count(lit(1)).as("nq")).collect()(0)
      checksDf(s, Seq(
        "recall_below_0p9" -> math.max(0.0, 0.9 - row.getDouble(0)),
        "results_per_query_minus_5" -> row.getLong(1).toDouble,
        "n_queries" -> row.getLong(2).toDouble))
    }),

    // ---- embedding PCA (q190): dimensionality reduction before ANN —
    // the moments engine (one distributed pass, Chan merge) builds the
    // 64x64 covariance, spdEig on the driver. Battery: eigenvalues
    // descending, eigenvectors orthonormal, V Λ Vᵀ reconstructs C to
    // machine zero, and TWO SQL anchors — the eigenvalue sum must equal
    // the per-dimension variance sum DuckDB computes independently, and
    // the exact corpus count. -------------------------------------------
    "q190_embedding_pca" -> ((s, dir) => {
      import breeze.linalg.{DenseMatrix, DenseVector}
      val e = emb(s, dir)
      val traj = e.select(col("embedding").cast("array<double>")
        .as(graft.core.Trajectories.FeatCol))
      val m = Covariance.fitFeatures(traj)
      val d = m.d
      val c = new DenseMatrix(d, d, m.cov00).t
      val (lam, v) = LinAlg.spdEig(c) // values desc, may truncate near-zero
      val k = lam.length
      val desc = (1 until k).map(i =>
        math.max(0.0, lam(i) - lam(i - 1))).sum
      val vtv = v.t * v
      val orth = (0 until k).flatMap(i => (0 until k).map(j =>
        math.abs(vtv(i, j) - (if (i == j) 1.0 else 0.0)))).max
      val rec = v * breeze.linalg.diag(DenseVector(lam.toArray: _*)) * v.t
      val recResid = (0 until d).flatMap(i => (0 until d).map(j =>
        math.abs(rec(i, j) - c(i, j)))).max
      checksDf(s, Seq(
        "rank_deficit" -> (d - k).toDouble,
        "eigs_descending_viol" -> desc,
        "orthonormality_resid" -> orth,
        "reconstruction_resid" -> recResid,
        "total_variance" -> breeze.linalg.sum(lam),
        "n_vectors" -> m.count.toDouble))
    }),

    // ---- cross-table correlation (q191): documents x embeddings joined
    // on id — Pearson correlation between doc length and embedding L2
    // norm (the sanity probe before using either as a quality signal).
    // One broadcast-joinable id join + one aggregation. -----------------
    "q191_quality_norm_corr" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
      val e = emb(s, dir).select(col("vec_id").as("doc_id"),
        sqrt(graft.functions.ArrayNumeric.dot(col("embedding"), col("embedding")))
          .as("l2norm"))
      d.join(e, "doc_id")
        .agg(count(lit(1)).as("n"),
          round(avg(col("n_chars")), 6).as("avg_chars"),
          round(avg(col("l2norm")), 6).as("avg_norm"),
          round(corr(col("n_chars"), col("l2norm")), 6).as("pearson_r"))
    }),

    // Embedding-cosine near-duplicate pairs (the embedding leg of the
    // dedup family): sign-plane LSH buckets -> capped bucket self-join ->
    // exact-cosine verify at threshold 0.35 (this corpus has no planted
    // near-dup structure — top pair cosines sit at ~0.3-0.45 — so the
    // threshold is set where true pairs exist; a real dedup corpus runs
    // 0.9+ with the same plan, where sign-plane collision probability is
    // high and bucketing recalls near-identical vectors — at 0.35 the
    // LSH recall is inherently low, so this query gates PIPELINE
    // correctness, with recall gated in its proper regime by q68).
    // nPlanes=7 keeps buckets selective (~40 vectors at sf0.1): wide
    // 2-plane buckets measured 10 s — the capped join's output is
    // quadratic in bucket size, exactly the degenerate regime the
    // maxBucketSize cap exists for. The oracle SIMULATES the whole
    // pipeline: literal sign-plane bucket terms (bit-identical add
    // order, the q28/q68 pattern), per-table bucket-size caps, candidate
    // dedup, and the exact cosine filter.
    "q86_cosine_neardup" -> ((s, dir) => {
      Similarity.cosineNearDupes(emb(s, dir), threshold = 0.35, dim = 64,
        nPlanes = 7, numTables = 2)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
    }),

    // ---- sign-LSH near-dup OVER-CAP star regime (q256): q86's organic
    // buckets sit far under its 1000 cap, so the round-9 multi-hub
    // star-edge policy (over-cap buckets emit hub->member edges instead
    // of being dropped OR going quadratic) is inert there. This query
    // forces the regime at driver scale — 4 planes put ~31 vectors in
    // each of 16 buckets, cap 20 makes most of them over-cap, 2 hubs —
    // so the DuckDB twin verifies the star semantics bit-exactly
    // (hub-anchored candidate set, exact cosine at the threshold). ------
    "q256_cosine_star" -> ((s, dir) => {
      Similarity.cosineNearDupes(emb(s, dir), threshold = 0.35, dim = 64,
        nPlanes = 4, numTables = 2, maxBucketSize = 20, nHubs = 2)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
    }),

    // ---- SemDeDup semantic dedup (q99): k-means clusters confine the
    // cosine sweep; a vector is dropped iff a smaller-id same-cluster
    // vector is cosine >= tau. The battery independently re-derives the
    // earlier-neighbor relation from the emitted cell assignment and
    // raw vectors and asserts the keep/drop partition is exactly the
    // "no earlier neighbor" set (0 violations both directions); the
    // n_vectors anchor is exact SQL. tau=0.3 sits where this corpus has
    // real cosine-near pairs (q86 note: top pair cosines ~0.3-0.45). --
    "q99_semdedup" -> ((s, dir) => {
      val e = emb(s, dir)
      val res = Similarity.semDedup(e, tau = 0.3, nClusters = 8, seed = 42L)
      val withVec = res.join(e.select(col("vec_id"), col("embedding")), "vec_id")
      val l = withVec.select(col("cell"), col("vec_id").as("a"),
        col("embedding").as("va"))
      val r = withVec.select(col("cell"), col("vec_id").as("b"),
        col("embedding").as("vb"))
      val hasEarlier = l.join(r, Seq("cell"))
        .where(col("a") < col("b") &&
          Similarity.cosine(col("va"), col("vb")) >= 0.3)
        .select(col("b").as("vec_id")).distinct()
      val joined = res.join(hasEarlier.withColumn("he", lit(1)), Seq("vec_id"), "left")
      val row = joined.agg(
        sum(when(col("keep") === 1 && col("he") === 1, 1).otherwise(0)).as("kept_viol"),
        sum(when(col("keep") === 0 && col("he").isNull, 1).otherwise(0)).as("drop_viol"),
        count(lit(1)).as("n")).collect()(0)
      checksDf(s, Seq(
        "kept_with_earlier_neighbor" -> row.getLong(0).toDouble,
        "dropped_without_earlier_neighbor" -> row.getLong(1).toDouble,
        "n_vectors" -> row.getLong(2).toDouble))
    }),

    // ---- Rademacher random projection (q201): Johnson–Lindenstrauss
    // dimensionality reduction with a HASH-DERIVED +-1 matrix — no RNG
    // state, no materialized matrix, re-runs and appends bit-stable. Over
    // the int8-quantized vectors (q77's contract) every projected
    // coordinate is an INTEGER sum, so the twin replays it exactly; the
    // norm-ratio column makes the JL norm-preservation property (E[|y|^2]
    // = K * |q|^2) oracle-visible. Pure per-row codegen expressions — no
    // shuffle, no explode, nothing leaves the scan. ---------------------
    "q201_random_projection" -> ((s, dir) => {
      val K = 16
      val e = emb(s, dir).where(col("vec_id") % 7 === 0)
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qv"))
      // sign(j,k) = 1 - 2 * bit16 of Knuth-hash(j*K + k): integer-exact,
      // unbiased across (j,k) (an LCG's LOW bit would alternate with j)
      def proj(k: Int): org.apache.spark.sql.Column =
        aggregate(
          zip_with(col("qv"), sequence(lit(0), size(col("qv")) - 1),
            (q, j) => q * (lit(1L) - lit(2L) *
              shiftright((lit(2654435761L) * (j.cast("long") * K + k)) % lit(4294967296L), 16)
                .bitwiseAND(lit(1L)))),
          lit(0L), (acc, x) => acc + x.cast("long"))
      val projected = e.select(
        (Seq(col("vec_id")) ++ (0 until 4).map(k => proj(k).as(s"y$k")) :+
          (0 until K).map(k => proj(k) * proj(k)).reduce(_ + _).as("ynorm2") :+
          aggregate(col("qv"), lit(0L),
            (acc, x) => acc + (x * x).cast("long")).as("qnorm2")): _*)
      projected.select(col("vec_id"), col("y0"), col("y1"), col("y2"), col("y3"),
        col("ynorm2"), col("qnorm2"),
        round(col("ynorm2").cast("double") /
          (col("qnorm2").cast("double") * K), 4).as("norm_ratio"))
    }),

    // ---- mutual-kNN graph (q202): symmetric nearest-neighbor edges —
    // a is kept iff a is in b's top-5 AND b is in a's top-5 (by quantized
    // cosine, neighbor-id tie-break). The mutual filter is the standard
    // noise-robust graph for clustering/manifold steps. Runs on a
    // FIXED-COUNT 256-vector probe slice (bounded 256^2 integer-dot
    // pairs at ANY corpus size — same discipline as q20); the corpus
    // rung composes the same ranking with q192's IVF candidates. Output
    // is the mutual-degree histogram. -----------------------------------
    "q202_mutual_knn" -> ((s, dir) => {
      val sub = emb(s, dir).where(col("vec_id") % 3 === 0)
        .orderBy(col("vec_id")).limit(256)
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qv"))
      val a = sub.select(col("vec_id").as("ida"), col("qv").as("qa"))
      val b = sub.select(col("vec_id").as("idb"), col("qv").as("qb"))
      val scored = a.join(broadcast(b), col("ida") =!= col("idb"))
        .select(col("ida"), col("idb"),
          round(Similarity.quantizedCosine(col("qa"), col("qb")), 6).as("qcos"))
      val w = Window.partitionBy(col("ida"))
        .orderBy(col("qcos").desc, col("idb"))
      val knn = scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("ida"), col("idb"))
      val mutual = knn.join(
        knn.select(col("ida").as("idb"), col("idb").as("ida")),
        Seq("ida", "idb"))
      mutual.groupBy(col("ida")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    }),

    // ---- kNN classification eval (q213): leave-one-out 5-NN majority
    // vote over the labeled embeddings (q202's fixed 256-vector slice
    // and quantized-cosine ranking; majority tie-break = smallest
    // label) scored against the true labels — the eval rung that tells
    // a curation pipeline whether its embedding space separates classes
    // at all. Output: per-class n / correct / accuracy. -----------------
    "q213_knn_classify" -> ((s, dir) => {
      val sub = emb(s, dir).where(col("vec_id") % 3 === 0)
        .orderBy(col("vec_id")).limit(256)
        .select(col("vec_id"), col("label"),
          Similarity.quantizeInt8(col("embedding")).as("qv"))
      val a = sub.select(col("vec_id").as("ida"), col("label").as("la"), col("qv").as("qa"))
      val b = sub.select(col("vec_id").as("idb"), col("label").as("lb"), col("qv").as("qb"))
      val scored = a.join(broadcast(b), col("ida") =!= col("idb"))
        .select(col("ida"), col("la"), col("idb"), col("lb"),
          round(Similarity.quantizedCosine(col("qa"), col("qb")), 6).as("qcos"))
      val wTop = Window.partitionBy(col("ida"))
        .orderBy(col("qcos").desc, col("idb"))
      val votes = scored.withColumn("rk", row_number().over(wTop))
        .where(col("rk") <= 5)
        .groupBy(col("ida"), col("la"), col("lb"))
        .agg(count(lit(1)).as("v"))
      val wVote = Window.partitionBy(col("ida"))
        .orderBy(col("v").desc, col("lb"))
      val pred = votes.withColumn("vr", row_number().over(wVote))
        .where(col("vr") === 1)
        .select(col("ida"), col("la"), col("lb").as("pred"))
      pred.groupBy(col("la").as("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("la"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n"), 6))
    }),

    // ---- source-centroid similarity (q232): the corpus-drift matrix —
    // per-source embedding centroids (map-side-combined (source, dim)
    // partial sums, the q119 shape) and every source pair's centroid
    // cosine. 20 centroids -> 190 model-sized pairs; vectors never
    // shuffle, only (source, dim, partial-sum) triples do. --------------
    "q232_source_centroid_sim" -> ((s, dir) => {
      val sv = emb(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .join(docs(s, dir).select(col("doc_id").as("vec_id"), col("source")),
          Seq("vec_id"))
      val cent = sv.select(col("source"),
          posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("source"), col("i"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("c"))
        .withColumn("m", col("sx") / col("c"))
        .groupBy(col("source"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          x => x.getField("m")).as("cv"))
      val a = cent.select(col("source").as("sa"), col("cv").as("va"))
      val b = cent.select(col("source").as("sb"), col("cv").as("vb"))
      a.join(broadcast(b), col("sa") < col("sb"))
        .select(col("sa"), col("sb"),
          round(Similarity.cosine(col("va"), col("vb")), 6).as("cos"))
    }),
  )

  /** Star-aware DuckDB simulation of `Similarity.cosineNearDupes`:
    * literal sign-plane bucket terms, per-table bucket sizes, all-pairs
    * at or under `cap`, multi-hub star edges above it (the `l.rk <= hubs`
    * leg is exactly Spark's hub-side join because hubs are the
    * smallest ids, so the a < b filter puts them on the left),
    * candidate dedup over tables, exact cosine at the threshold. */
  private def cosineNearDupSql(nPlanes: Int, numTables: Int,
                               cap: Int, hubs: Int): String = {
    val b = Similarity.bucketSqlExprs("v", dim = 64, nPlanes = nPlanes,
      numTables = numTables)
    val bcols = b.zipWithIndex.map { case (e, t) => s"$e AS b$t" }.mkString(",\n           ")
    val ncols = (b.indices.map(t => s"count(*) OVER (PARTITION BY b$t) AS n$t") ++
      b.indices.map(t =>
        s"ROW_NUMBER() OVER (PARTITION BY b$t ORDER BY vec_id) AS rk$t"))
      .mkString(",\n           ")
    val unions = b.indices.map(t =>
      s"""SELECT l.vec_id AS a, r.vec_id AS b FROM cb2 l JOIN cb2 r
          ON l.b$t = r.b$t AND l.vec_id < r.vec_id
          WHERE l.n$t <= $cap OR l.rk$t <= $hubs""")
      .mkString("\n           UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cb AS (SELECT vec_id,
         $bcols
         FROM e),
       cb2 AS (SELECT *,
         $ncols
         FROM cb),
       cand AS (SELECT DISTINCT a, b FROM ($unions)),
       sc AS (SELECT cand.a, cand.b,
         list_dot_product(ae.v, be.v) /
           (sqrt(list_dot_product(ae.v, ae.v)) * sqrt(list_dot_product(be.v, be.v))) AS cos
         FROM cand JOIN e ae ON ae.vec_id = cand.a
                   JOIN e be ON be.vec_id = cand.b)
       SELECT a, b, round(cos, 6) AS cos FROM sc WHERE cos >= 0.35"""
  }

  val oracles: Seq[(String, String)] = Seq(

    // Signature replay: identical positional resample (row_number over
    // (ts, event_id), integer-div bucket), rounded bucket means, rounded
    // squared distance, same tie rule.
    "q162_traj_similarity" ->
      """WITH e AS (SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n
           FROM events),
         sig AS (SELECT user_id, ((rn - 1) * 8) // n AS b,
             round(avg(value), 6) AS s
           FROM e WHERE n >= 8 GROUP BY 1, 2),
         q AS (SELECT user_id AS qid, b, s AS qs FROM sig
           WHERE user_id % 20 = 0),
         d AS (SELECT qid, sig.user_id AS user_id,
             round(sum((sig.s - q.qs) * (sig.s - q.qs)), 6) AS dist
           FROM sig JOIN q USING (b) WHERE sig.user_id <> q.qid
           GROUP BY 1, 2),
         r AS (SELECT qid, user_id, dist, CAST(ROW_NUMBER() OVER (
             PARTITION BY qid ORDER BY dist, user_id) AS BIGINT) AS rk
           FROM d)
         SELECT qid, user_id, dist, rk FROM r WHERE rk <= 3""",

    // SemDeDup battery twin: residuals are exact zeros when the
    // keep/drop partition equals the "no earlier same-cluster neighbor"
    // set; the vector-count anchor is exact SQL.
    "q99_semdedup" ->
      """SELECT 'kept_with_earlier_neighbor' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'dropped_without_earlier_neighbor', 0.0
         UNION ALL SELECT 'n_vectors',
           (SELECT CAST(count(*) AS DOUBLE) FROM embeddings)""",

    // Quantization + quantized cosine recomputed exactly: integer dot over
    // integer norms (scales cancel), plus the exact-cosine error column.
    "q77_quantized_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id, v,
           list_transform(v, x -> round(x /
             (greatest(list_max(list_transform(v, y -> abs(y))), 1e-300) / 127.0))) AS qv
           FROM e),
         p AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
             a.v AS va, b.v AS vb, a.qv AS qa, b.qv AS qb
           FROM q a JOIN q b ON b.vec_id = a.vec_id + 1),
         c AS (SELECT ida, idb,
           list_dot_product(qa, qb) /
             (sqrt(list_dot_product(qa, qa)) * sqrt(list_dot_product(qb, qb))) AS qcos,
           list_dot_product(va, vb) /
             (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS cos
           FROM p)
         SELECT ida, idb, round(qcos, 6) AS qcos,
           round(abs(qcos - cos), 3) AS abs_err FROM c""",

    "q28_ann_lsh" -> {
      // the oracle SIMULATES the LSH pipeline: sign-plane buckets (literal
      // +- terms, same left-to-right accumulation order as the executor
      // UDF -> bit-identical floating sign), candidate OR-join, exact
      // cosine re-rank — identical to the Spark plan's semantics.
      val b = Similarity.bucketSqlExprs("v", dim = 64, nPlanes = 8, numTables = 4)
      val bcols = b.zipWithIndex.map { case (e, t) => s"$e AS b$t" }.mkString(",\n           ")
      val joinCond = b.indices.map(t => s"q.b$t = c.b$t").mkString(" OR ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cb AS (SELECT vec_id,
           $bcols
           FROM e),
         qb AS (SELECT * FROM cb WHERE vec_id % 40 = 0),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM qb q JOIN cb c ON q.vec_id != c.vec_id AND ($joinCond)),
         s AS (SELECT cand.query_id, cand.neighbor_id,
           list_dot_product(qe.v, ce.v) /
             (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))) AS cos
           FROM cand JOIN e qe ON qe.vec_id = cand.query_id
                     JOIN e ce ON ce.vec_id = cand.neighbor_id),
         r AS (SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM s)
         SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round(cos, 6) AS cos FROM r WHERE rank <= 5"""
    },

    // Full simulation of the cosine near-dup pipeline: per-table bucket
    // sizes mirror the Spark-side maxBucketSize=1000 policy — all-pairs
    // at or under the cap, multi-hub (3 smallest-id) STAR edges above it
    // (the round-9 operator change; the l.rk <= 3 leg is exactly Spark's
    // hub-side join because hubs are the smallest ids, so the a < b
    // filter puts them on the left) — candidates union over tables,
    // exact cosine at the threshold.
    "q86_cosine_neardup" ->
      cosineNearDupSql(nPlanes = 7, numTables = 2, cap = 1000, hubs = 3),

    // Same simulation with q256's constants: cap 20 over ~31-member
    // buckets forces the star regime the driver SFs never reach at
    // q86's 1000 cap, so the hub-anchored candidate set itself is
    // oracle-verified.
    "q256_cosine_star" ->
      cosineNearDupSql(nPlanes = 4, numTables = 2, cap = 20, hubs = 2),

    "q68_ann_recall" -> {
      val b = Similarity.bucketSqlExprs("v", dim = 64, nPlanes = 2, numTables = 8)
      val bcols = b.zipWithIndex.map { case (e, t) => s"$e AS b$t" }.mkString(",\n           ")
      val joinCond = b.indices.map(t => s"q.b$t = c.b$t").mkString(" OR ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cb AS (SELECT vec_id,
           $bcols
           FROM e),
         qb AS (SELECT * FROM cb WHERE vec_id % 40 = 0),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM qb q JOIN cb c ON q.vec_id != c.vec_id AND ($joinCond)),
         ls AS (SELECT cand.query_id, cand.neighbor_id,
           list_dot_product(qe.v, ce.v) /
             (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))) AS cos
           FROM cand JOIN e qe ON qe.vec_id = cand.query_id
                     JOIN e ce ON ce.vec_id = cand.neighbor_id),
         lr AS (SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM ls),
         lsh AS (SELECT query_id, neighbor_id FROM lr WHERE rank <= 5),
         bs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(q.v, c.v) /
             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
           FROM e q JOIN e c ON q.vec_id % 40 = 0 AND q.vec_id != c.vec_id),
         br AS (SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM bs),
         brute AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5),
         hit AS (SELECT b.query_id,
           CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS h
           FROM brute b LEFT JOIN lsh l
             ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id),
         agg AS (SELECT query_id, CAST(sum(h) AS BIGINT) AS hits FROM hit GROUP BY 1)
         SELECT query_id, hits, hits / 5.0 AS recall FROM agg"""
    },

    // IVF ANN recall/contract battery; the query count is exact SQL.
    "q64_ann_ivf" ->
      """SELECT 'recall_below_0p9' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'results_per_query_minus_5', 0.0
         UNION ALL SELECT 'n_queries',
           (SELECT CAST(count(*) AS DOUBLE) FROM embeddings WHERE vec_id % 40 = 0)""",

    // IVF+PQ recall/contract battery.
    "q192_ann_ivfpq" ->
      """SELECT 'recall_below_0p9' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'results_per_query_minus_5', 0.0
         UNION ALL SELECT 'n_queries',
           (SELECT CAST(count(*) AS DOUBLE) FROM embeddings WHERE vec_id % 40 = 0)""",

    // PCA battery: algebraic zeros + the variance-sum / count anchors
    // DuckDB computes independently (var_samp = the same Bessel
    // normalization as the moments engine).
    "q190_embedding_pca" ->
      """SELECT 'rank_deficit' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'eigs_descending_viol', 0.0
         UNION ALL SELECT 'orthonormality_resid', 0.0
         UNION ALL SELECT 'reconstruction_resid', 0.0
         UNION ALL SELECT 'total_variance',
           (WITH x AS (SELECT t.i AS i,
               CAST(embedding AS DOUBLE[])[t.i] AS v
              FROM embeddings,
                LATERAL UNNEST(generate_series(1, len(embedding))) AS t(i))
            SELECT round(sum(vv), 6)
            FROM (SELECT var_samp(v) AS vv FROM x GROUP BY i))
         UNION ALL SELECT 'n_vectors',
           (SELECT CAST(count(*) AS DOUBLE) FROM embeddings)""",

    // Cross-table correlation twin.
    "q191_quality_norm_corr" ->
      """WITH j AS (SELECT d.n_chars,
           sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
             CAST(e.embedding AS DOUBLE[]))) AS nrm
         FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
         SELECT CAST(count(*) AS BIGINT) AS n,
           round(avg(n_chars), 6) AS avg_chars,
           round(avg(nrm), 6) AS avg_norm,
           round(corr(n_chars, nrm), 6) AS pearson_r
         FROM j""",

    // Procrustes battery: machine-zero residuals + exact corpus count.
    "q176_procrustes_align" ->
      """SELECT 'r_orthogonality' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'aligned_mse', 0.0
         UNION ALL SELECT 'aligned_worse_than_raw', 0.0
         UNION ALL SELECT 'n_vectors',
           (SELECT CAST(count(*) AS DOUBLE) FROM embeddings)""",

    // D4 prototypicality-prune battery: exact-zero invariants + exact
    // corpus count.
    "q171_proto_prune" ->
      """SELECT 'drop_count_viol' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'order_viol', 0.0
         UNION ALL SELECT 'n_vectors',
           (SELECT CAST(count(*) AS DOUBLE) FROM embeddings)""",

    // PQ ANN recall/contract battery; query count + compression exact SQL.
    "q165_ann_pq" ->
      """SELECT 'recall_below_0p9' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'results_per_query_minus_5', 0.0
         UNION ALL SELECT 'n_queries',
           (SELECT CAST(count(*) AS DOUBLE) FROM embeddings WHERE vec_id % 40 = 0)
         UNION ALL SELECT 'compression_ratio', 32.0""",

    "q23_ann_brute" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 40 = 0),
         s AS (SELECT query_id, e.vec_id AS neighbor_id,
           round(list_dot_product(qv, e.v) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
           FROM q, e WHERE query_id != e.vec_id),
         r AS (SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM s)
         SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5""",

    "q24_embedding_norms" ->
      """SELECT vec_id, label,
         round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
           CAST(embedding AS DOUBLE[]))), 6) AS l2norm
         FROM embeddings""",

    // Embedding-outlier twin: per-label element-wise mean centroid
    // (parallel unnest), cosine via list_dot_product in the exact fused-
    // expression formula dot/(sqrt(xx)*sqrt(yy)), bottom-3 per label on
    // the rounded cosine with vec_id tie-break.
    "q119_embedding_outliers" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
           CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pos AS (SELECT vec_id, label,
           unnest(generate_series(1, len(v))) AS i, unnest(v) AS x FROM e),
         cent AS (SELECT label, i, avg(x) AS c FROM pos GROUP BY 1, 2),
         cl AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY 1),
         sc AS (SELECT e.label, e.vec_id,
             round(list_dot_product(e.v, cl.cv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cl.cv, cl.cv))), 6) AS cos_c
           FROM e JOIN cl USING (label)),
         r AS (SELECT label, vec_id, cos_c,
           ROW_NUMBER() OVER (PARTITION BY label
             ORDER BY cos_c, vec_id) AS rk FROM sc)
         SELECT label, vec_id, cos_c, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 3""",

    // Hard-negative twin: exhaustive different-label cosine ranking per
    // anchor in the exact fused-expression formula, rank on the rounded
    // score with the vec_id tie-break.
    "q122_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
           CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS av
           FROM e WHERE vec_id < 20),
         sc AS (SELECT a.anchor_id, e.vec_id,
             round(list_dot_product(e.v, a.av) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(a.av, a.av))), 6) AS cos_hn
           FROM e JOIN a ON e.label <> a.anchor_label),
         r AS (SELECT anchor_id, vec_id, cos_hn,
           ROW_NUMBER() OVER (PARTITION BY anchor_id
             ORDER BY cos_hn DESC, vec_id) AS rk FROM sc)
         SELECT anchor_id, vec_id, cos_hn, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 3""",

    // Random-projection twin: the q77 quantization, the same Knuth-hash
    // sign matrix, the same integer sums (all list arithmetic on
    // integer-valued doubles, cast back to BIGINT).
    "q201_random_projection" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id % 7 = 0),
         q AS (SELECT vec_id,
           list_transform(v, x -> round(x /
             (greatest(list_max(list_transform(v, y -> abs(y))), 1e-300) / 127.0)))
             AS qv
           FROM e),
         p AS (SELECT vec_id, qv,
           list_transform(range(0, 16), k ->
             list_sum(list_transform(range(1, len(qv) + 1), j ->
               qv[j] * (1 - 2 * (((2654435761 * ((j-1)*16 + k)) % 4294967296 >> 16) & 1)))))
             AS ys
           FROM q)
         SELECT vec_id,
           CAST(ys[1] AS BIGINT) AS y0, CAST(ys[2] AS BIGINT) AS y1,
           CAST(ys[3] AS BIGINT) AS y2, CAST(ys[4] AS BIGINT) AS y3,
           CAST(list_sum(list_transform(ys, y -> y*y)) AS BIGINT) AS ynorm2,
           CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS qnorm2,
           round(list_sum(list_transform(ys, y -> y*y)) /
             (list_sum(list_transform(qv, x -> x*x)) * 16), 4) AS norm_ratio
         FROM p""",

    // Mutual-kNN twin: identical fixed slice, quantized-cosine ranking,
    // reverse-pair mutual filter, and degree histogram.
    "q202_mutual_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 256),
         q AS (SELECT vec_id,
           list_transform(v, x -> round(x /
             (greatest(list_max(list_transform(v, y -> abs(y))), 1e-300) / 127.0)))
             AS qv
           FROM e),
         s AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
             round(list_dot_product(a.qv, b.qv) /
               (sqrt(list_dot_product(a.qv, a.qv)) *
                sqrt(list_dot_product(b.qv, b.qv))), 6) AS qcos
           FROM q a JOIN q b ON a.vec_id != b.vec_id),
         k AS (SELECT ida, idb FROM (SELECT ida, idb,
             row_number() OVER (PARTITION BY ida ORDER BY qcos DESC, idb) AS rk
           FROM s) WHERE rk <= 5),
         m AS (SELECT k.ida, k.idb
           FROM k JOIN k k2 ON k.ida = k2.idb AND k.idb = k2.ida),
         d AS (SELECT ida, count(*) AS deg FROM m GROUP BY 1)
         SELECT CAST(deg AS BIGINT) AS deg, CAST(count(*) AS BIGINT) AS n_nodes
         FROM d GROUP BY 1""",

    // kNN-eval twin: the q202 ranking with labels, majority vote with
    // the same (count desc, label asc) tie rule, per-class accuracy.
    "q213_knn_classify" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 256),
         q AS (SELECT vec_id, label,
           list_transform(v, x -> round(x /
             (greatest(list_max(list_transform(v, y -> abs(y))), 1e-300) / 127.0)))
             AS qv
           FROM e),
         s AS (SELECT a.vec_id AS ida, a.label AS la,
             b.vec_id AS idb, b.label AS lb,
             round(list_dot_product(a.qv, b.qv) /
               (sqrt(list_dot_product(a.qv, a.qv)) *
                sqrt(list_dot_product(b.qv, b.qv))), 6) AS qcos
           FROM q a JOIN q b ON a.vec_id != b.vec_id),
         k AS (SELECT ida, la, lb FROM (SELECT ida, la, lb,
             row_number() OVER (PARTITION BY ida ORDER BY qcos DESC, idb) AS rk
           FROM s) WHERE rk <= 5),
         votes AS (SELECT ida, la, lb, count(*) AS v FROM k GROUP BY 1, 2, 3),
         pred AS (SELECT ida, la, lb AS pred FROM (SELECT ida, la, lb,
             row_number() OVER (PARTITION BY ida ORDER BY v DESC, lb) AS vr
           FROM votes) WHERE vr = 1)
         SELECT la AS label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred = la THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(CAST(sum(CASE WHEN pred = la THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS accuracy
         FROM pred GROUP BY la""",

    // Centroid-similarity twin: per-source element-wise means over the
    // 64 dims, pairwise cosine on the model-sized centroid table.
    "q232_source_centroid_sim" ->
      """WITH sv AS (SELECT d.source, CAST(e.embedding AS DOUBLE[]) AS v
           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         ex AS (SELECT source, i, v[i] AS x
           FROM sv CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
         cent AS (SELECT source, i, sum(x) / count(*) AS m
           FROM ex GROUP BY 1, 2),
         cv AS (SELECT source, list(m ORDER BY i) AS cv
           FROM cent GROUP BY source)
         SELECT a.source AS sa, b.source AS sb,
           round(list_dot_product(a.cv, b.cv) /
             (sqrt(list_dot_product(a.cv, a.cv)) *
              sqrt(list_dot_product(b.cv, b.cv))), 6) AS cos
         FROM cv a JOIN cv b ON a.source < b.source""",
  )
}
