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

/** CoreQueries: ingest, lag/subsample/derivative views, covariance engine, histograms, whitening, bootstrap, kernels, basis maps.
  *
  * One slice of the driver-contract registry (VERDICT r06 item 8 split
  * of the 5,000-line SparkEntry monolith). Entry bodies are UNCHANGED;
  * graft.SparkEntry merges every family into the single `queries` /
  * `oracleSql` maps the driver consumes, and ContractSpec keeps the
  * key sets equal. */
private[graft] object CoreQueries extends QueryFamily {
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- relational baseline -------------------------------------------
    "q01_tpch_agg" -> ((s, dir) => {
      Trajectories.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // Fact-to-fact shuffle join (orders |x| lineitem on orderkey): the one
    // join class q25's broadcast dimension join doesn't cover — both sides
    // are data-sized, so this is the sort-merge/shuffled-hash shape a
    // 100 TB join planner must get right (AQE picks the strategy; the join
    // key is the natural co-partitioning key for both tables at scale).
    "q72_order_priority_join" -> ((s, dir) => {
      val orders = Trajectories.table(s, dir, "orders")
      val li = Trajectories.table(s, dir, "lineitem")
      orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),

    "q25_symbol_remap_join" -> ((s, dir) => {
      val c = Trajectories.table(s, dir, "customer")
      val n = Trajectories.table(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
    }),

    // ---- lag-join family (SURVEY §2.3) ---------------------------------
    "q02_lag_pairs" -> ((s, dir) => {
      Lag.pairsOf(ev(s, dir), "value", 1)
        .groupBy(col("traj_id"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("s0") * col("s1")) / 1e6, 6).as("sxy_m"))
    }),

    "q12_strided_subsample" -> ((s, dir) => {
      Lag.strided(ev(s, dir), 3)
        .groupBy(col("traj_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_val"))
    }),

    "q13_derivative" -> ((s, dir) => {
      Lag.centralDifference(ev(s, dir), "value")
        .select(col("traj_id"), col("t"), round(col("deriv"), 6).as("deriv"))
    }),

    // ---- covariance / moments engine (SURVEY §2.4) ---------------------
    "q03_cov_moments" -> ((s, dir) => {
      val m = Covariance.fitFeatures(liTraj(s, dir))
      covModelDf(s, m, lagged = false)
    }),

    "q04_lagged_cov" -> ((s, dir) => {
      val pairs = ev(s, dir)
        .withColumn("x", array(col("value")))
        .select(col("traj_id"), col("t"), col("x"))
      val m = Covariance.fit(Lag.pairs(
        pairs.withColumnRenamed("x", Trajectories.FeatCol), 2))
      covModelDf(s, m, lagged = true)
    }),

    // ---- discretization ------------------------------------------------
    "q11_box_discretize" -> ((s, dir) => {
      Trajectories.dtrajFromEventValues(s, dir, 10)
        .groupBy(col("state")).agg(count(lit(1)).as("cnt"))
    }),

    // ---- box one-hot transform (q249): transform_onehot (reference
    // clustering/_box.py:30) over the q11 box discretization — each row
    // becomes a length-10 one-hot ARRAY<DOUBLE> (a pure codegen column
    // expression, the input shape the VAMP/covariance basis pipeline
    // consumes). Verified by its column sums (== the state histogram)
    // and a row-sum anchor (every one-hot row sums to exactly 1). One
    // scan, one model-sized aggregate — no explode. ----------------------
    "q249_box_onehot" -> ((s, dir) => {
      val nB = 10
      val d = Trajectories.dtrajFromEventValues(s, dir, nB)
        .withColumn("oh", Trajectories.onehot(col("state"), nB))
      val aggCols = (0 until nB).map(j =>
        sum(element_at(col("oh"), j + 1)).cast("long").as(s"c$j")) :+
        sum(when(abs(expr("aggregate(oh, 0D, (a, x) -> a + x)") - lit(1.0)) > 1e-12,
          1L).otherwise(0L)).as("bad")
      val a1 = d.agg(aggCols.head, aggCols.tail: _*)
      val stackArgs = (0 until nB).map(j => s"'$j', c$j").mkString(", ")
      a1.selectExpr(s"stack(${nB + 1}, $stackArgs, 'rowsum_bad', bad) AS (component, n_ones)")
    }),

    // ---- model persistence roundtrips (q250): the io/Persistence rung
    // (reference base.py save/load + the JSON interchange) made oracle-
    // visible — a VAMP Koopman model fitted from the data roundtrips
    // through BOTH the JSON codec and Java serialization bit-exactly,
    // and a k-means ClusterModel through the cluster JSON codec. Every
    // residual is a max-abs array diff that must be exactly 0; the
    // files go through a temp dir (driver-side, model-sized). ------------
    "q250_model_persistence" -> ((s, dir) => {
      val cov = Covariance.fit(liPairs(s, dir))
      val vamp = graft.decomposition.Vamp.fitFromCovariance(cov, 1)
      // bench runs this query repeatedly — clean the temp artifacts up on
      // JVM exit instead of littering /tmp per execution
      val tmp = java.nio.file.Files.createTempDirectory("graft-persist")
      tmp.toFile.deleteOnExit()
      Seq("koopman.json", "koopman.bin").foreach(f =>
        tmp.resolve(f).toFile.deleteOnExit())
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max
      def diff(a: Array[Double], b: Array[Double]): Double =
        if (a.length != b.length) 1.0
        else maxAbs(a.zip(b).map { case (x, y) => x - y })
      // JSON roundtrip
      val jsonPath = tmp.resolve("koopman.json").toString
      graft.io.Persistence.saveJson(graft.io.Persistence.koopmanToJson(vamp), jsonPath)
      val vj = graft.io.Persistence.koopmanFromJson(
        graft.io.Persistence.loadJson(jsonPath))
      val jsonResid = Seq(diff(vj.u, vamp.u), diff(vj.mean0, vamp.mean0),
        diff(vj.meant, vamp.meant), diff(vj.singularValues, vamp.singularValues),
        if (vj.tau == vamp.tau && vj.d == vamp.d && vj.k == vamp.k) 0.0 else 1.0).max
      // Java-serialization roundtrip
      val serPath = tmp.resolve("koopman.bin").toString
      graft.io.Persistence.save(vamp, serPath)
      val vs = graft.io.Persistence.load[graft.decomposition.KoopmanModel](serPath)
      val serResid = Seq(diff(vs.u, vamp.u), diff(vs.singularValues,
        vamp.singularValues)).max
      // ClusterModel JSON roundtrip (k-means on the embeddings)
      val km = graft.clustering.LloydKMeans.fit(
        Trajectories.table(s, dir, "embeddings")
          .select(col("embedding").cast("array<double>").as(Trajectories.FeatCol)),
        k = 4, maxIter = 3, seed = 11L)
      val cj = graft.io.Persistence.clusterFromJson(
        graft.io.Persistence.clusterToJson(km))
      val clusterResid =
        if (cj.centers.length != km.centers.length) 1.0
        else maxAbs(cj.centers.zip(km.centers).map { case (a, b) => diff(a, b) })
      checksDf(s, Seq(
        "koopman_json_roundtrip" -> jsonResid,
        "koopman_serialization_roundtrip" -> serResid,
        "cluster_json_roundtrip" -> clusterResid,
        "koopman_k" -> vamp.k.toDouble))
    }),

    // ---- constant-column sparsification (q251): the fitFeaturesSparse
    // path (reference covariance sparsification: constant columns are
    // detected, excluded from the O(d²) moment gemm, and reconstituted)
    // on a frame with two PLANTED constant columns — the sparse model
    // must match the dense path entry-for-entry, detect exactly the
    // planted constants, and carry their exact values as means. ----------
    "q251_sparse_covariance" -> ((s, dir) => {
      val base = Trajectories.fromLineitem(s, dir)
      // plant constants: [x0, 3.5, x1, -2.0] from the 4-feature vector
      val planted = base.select(col(Trajectories.TrajCol), col(Trajectories.TimeCol),
        array(element_at(col(Trajectories.FeatCol), 1), lit(3.5),
          element_at(col(Trajectories.FeatCol), 2), lit(-2.0))
          .as(Trajectories.FeatCol))
      val dense = graft.agg.Covariance.fitFeatures(planted)
      val sparse = graft.agg.Covariance.fitFeaturesSparse(planted, 4)
      def maxAbs(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.map(math.abs).max
      val meanResid = maxAbs(dense.mean0.zip(sparse.mean0).map { case (a, b) => a - b })
      val covResid = maxAbs(dense.cov00.zip(sparse.cov00).map { case (a, b) => a - b })
      val constMeans = math.max(math.abs(sparse.mean0(1) - 3.5),
        math.abs(sparse.mean0(3) + 2.0))
      val constRows = maxAbs(for (j <- 0 until 4; i <- Seq(1, 3))
        yield sparse.cov00(i * 4 + j))
      checksDf(s, Seq(
        "sparse_vs_dense_means" -> meanResid,
        "sparse_vs_dense_cov" -> covResid,
        "planted_constant_means" -> constMeans,
        "constant_rows_zero_cov" -> constRows,
        "n_rows" -> sparse.count.toDouble))
    }),

    "q14_hist2d" -> ((s, dir) => hist2d(s, dir)),

    "q15_energy2d" -> ((s, dir) => {
      val hist = hist2d(s, dir)
      hist.withColumn("energy",
        round(-log(col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy())), 6))
        .select("vbin", "state", "energy")
    }),

    // ---- basis / kernels (SURVEY §2.8) ---------------------------------
    "q42_basis_monomials" -> ((s, dir) => {
      // degree-2 monomials of the 2-d feature (value/100, hour-of-day/24):
      // column means of the lifted features are SQL-checkable.
      // ts arrives as nanos-since-epoch long (nanosAsLong); hour-of-day UTC
      // via INTEGER division — double division of ~1.7e18 nanos carries a
      // 256 ns ulp that could misfloor a timestamp sitting on an hour
      // boundary, where DuckDB's hour(ts) is exact.
      val ev = Trajectories.events(s, dir)
        .select((col("value") / 100.0).as("x0"),
          ((expr("ts div 3600000000000") % 24) / 24.0).as("x1"))
      ev.agg(
        round(avg(lit(1.0)), 6).as("m_1"),
        round(avg(col("x0")), 6).as("m_x0"),
        round(avg(col("x1")), 6).as("m_x1"),
        round(avg(col("x0") * col("x0")), 6).as("m_x0x0"),
        round(avg(col("x0") * col("x1")), 6).as("m_x0x1"),
        round(avg(col("x1") * col("x1")), 6).as("m_x1x1"))
    }),

    "q43_kernel_gaussian" -> ((s, dir) => {
      // gaussian kernel values between consecutive embedding vectors
      val e = emb(s, dir)
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
      a.join(b, col("idb") === col("ida") + 1)
        .select(col("ida"), col("idb"),
          round(graft.kernels.GaussianKernel(4.0)(col("va"), col("vb")), 6).as("k"))
    }),

    // ---- whitening / bootstrap ----------------------------------------
    // Whitened covariance == identity is an exact invariant (C^{-1/2} C
    // C^{-1/2} = I, same Bessel on fit and check; numerical error ~1e-12),
    // so the oracle is the literal identity grid — a real end-to-end check
    // of covariance + spd_inv_sqrt + transform + re-covariance.
    "q44_whitening" -> ((s, dir) => {
      val traj = liTraj(s, dir)
      val m = graft.agg.Whitening.fit(traj)
      val whitened = m.transform(traj)
      val cov = Covariance.fitFeatures(whitened.select(col("traj_id"), col("t"),
        col("whitened").as(Trajectories.FeatCol)))
      import s.implicits._
      (for (i <- 0 until cov.d; j <- 0 until cov.d) yield
        (i, j, r4(cov.cov00(i * cov.d + j)) + 0.0)) // +0.0: normalize -0.0
        .toDF("i", "j", "cov")
    }),

    // Bootstrap contract: the number of draws equals the source trajectory
    // count (exact SQL twin) and every drawn trajectory carries its full
    // source length (resampled rows join-verified against source lengths).
    "q45_bootstrap" -> ((s, dir) => {
      // every boot trajectory must be a FULL copy of some source
      // trajectory: its length equals a source length AND its frame
      // indices are the contiguous range 0..len-1 (count == max_t+1,
      // min_t == 0 catches dropped/duplicated rows inside a draw).
      // TWO single-scan jobs: the src aggregate runs first and its group
      // count feeds bootstrapTrajectories' nTrajsHint, eliminating the
      // internal distinct-id count — the prior union shape scanned the
      // events window three times in one job (src side + boot join probe
      // + the hidden ids.count), which drifted to 1.37x baseline in the
      // round-5 driver record.
      val src = ev(s, dir)
      def trajStats(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("traj_id").agg(count(lit(1)).as("n"),
          min(col("t")).as("t0"), max(col("t")).as("t1")).collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      val srcStats = trajStats(src)
      val boot = graft.util.Stats.bootstrapTrajectories(src, seed = 7L,
        nTrajsHint = srcStats.length.toLong)
      val bootStats = trajStats(boot)
      val srcLens = srcStats.map(_._1).toSet
      val nDraws = bootStats.length.toLong
      val lenViol = bootStats.count { case (n, _, _) => !srcLens.contains(n) }.toDouble
      val contigViol = bootStats.count { case (n, t0, t1) =>
        t0 != 0L || t1 != n - 1 }.toDouble
      checksDf(s, Seq(
        "n_draws" -> nDraws.toDouble,
        "noncontiguous_draws" -> contigViol,
        "unmatched_lengths" -> lenViol))
    }),

    // ---- data generators ------------------------------------------------
    // OU moment gates: the Euler-Maruyama chain x_{t+1} = a x_t + s xi with
    // a = (1 - alpha h)^nSteps has known stationary moments; violations are
    // tolerance-margined (5 sigma of the 16k-sample estimators), so the
    // seeded JVM RNG stream stays deterministic-green without the oracle
    // needing the stream itself. Row count is pinned exactly.
    "q47_generator_ou" -> ((s, dir) => {
      val sys = graft.data.Generators.OrnsteinUhlenbeck()
      val h = 1e-3; val nSteps = 100
      val traj = graft.data.Generators.trajectories(s, sys, Array(Array(0.0)),
        nTraj = 32, length = 500, seed = 42L, h = h, nSteps = nSteps)
      val x = expr("features[0]")
      val row = traj.agg(count(lit(1)).as("n"), avg(x).as("m"),
        var_pop(x).as("v")).collect()(0)
      val n = row.getLong(0)
      // Euler-Maruyama fine-step AR(1) stationary variance:
      // var_inf = sigma^2 h / (1 - a1^2), a1 = 1 - alpha h (the discrete
      // analog of sigma^2/(2 alpha); burn-in from x0=0 shifts the pooled
      // variance < 1% here)
      val a1 = 1.0 - sys.alpha * h
      val varStat = sys.sigma(0) * sys.sigma(0) * h / (1.0 - a1 * a1)
      val sd = math.sqrt(varStat)
      val meanTol = 5.0 * sd / math.sqrt(n.toDouble / 100.0) // AC-inflated ESS
      val varTol = 0.3 * varStat
      checksDf(s, Seq(
        "n_rows" -> n.toDouble,
        "mean_out_of_bounds" -> math.max(0.0, math.abs(row.getDouble(1)) - meanTol),
        "var_out_of_bounds" -> math.max(0.0, math.abs(row.getDouble(2) - varStat) - varTol)))
    }),

    // ---- SINDy (oracle: one-pass normal equations are plain SQL sums) --
    "q48_sindy_normal_eq" -> ((s, dir) => {
      // theta = [1, x, x^2] over x = value/100; xdot = np.gradient per traj
      val series = ev(s, dir).withColumn("features", array(col("value") / 100.0))
        .select(col("traj_id"), col("t"), col("features"))
      val g = graft.sindy.Sindy.gradientFrame(series, 1)
        .where(col("xdot").getItem(0).isNotNull)
        .withColumn("x", expr("features[0]"))
        .withColumn("xd", expr("xdot[0]"))
      // averages, not sums: sum-order FP drift at 1e4 rows can flip a
      // fixed-precision rounding boundary; n recovers the sums exactly
      g.agg(
        count(lit(1)).as("n"),
        round(avg(col("x")), 6).as("a01"),
        round(avg(col("x") * col("x")), 6).as("a02"),
        round(avg(col("x") * col("x") * col("x")), 6).as("a12"),
        round(avg(col("x") * col("x") * col("x") * col("x")), 6).as("a22"),
        round(avg(col("xd")), 6).as("b0"),
        round(avg(col("x") * col("xd")), 6).as("b1"),
        round(avg(col("x") * col("x") * col("xd")), 6).as("b2"))
    }),

    // ---- streaming partial_fit surface (oracle: chunked folds must equal
    // the one-shot covariance, so q04's SQL twin applies verbatim) --------
    "q66_partial_fit_cov" -> ((s, dir) => {
      // persist the pair frame across the four batch scans: each
      // partialFit is one aggregation job, and without the persist every
      // batch re-ran the lag window sort over the full event series (4x
      // the window cost for identical rows)
      val pairs = Lag.pairs(ev(s, dir)
        .withColumn(Trajectories.FeatCol, array(col("value")))
        .select(col("traj_id"), col("t"), col(Trajectories.FeatCol)), 2)
        .persist()
      try {
        val rc = new graft.streaming.Streaming.RunningCovar()
        // fold four trajectory-ranged batches, as a foreachBatch loop would
        (0 until 4).foreach { k =>
          rc.partialFit(pairs.where(pmod(col("traj_id"), lit(4)) === k)
            .select(col("x"), col("y")))
        }
        covModelDf(s, rc.model, lagged = true)
      } finally { pairs.unpersist(blocking = false); () }
    }),

    // ---- Koopman reweighting ------------------------------------------
    // The left eigenvector normalization pins E[w] = 1 over the x-frames
    // of the lag pairs EXACTLY (the padded-basis eigenvector is scaled to
    // last component 1 and the basis is mean-centered), so the full-data
    // mean weight is a hash-gated zero residual and the pair count has an
    // exact SQL twin.
    "q63_koopman_weights" -> ((s, dir) => {
      // session-memoized lag-pair frame (liPairs, the q29 pattern)
      val pairs = liPairs(s, dir)
      val row = {
        val wm = graft.agg.KoopmanWeighting.fromCovariance(
          graft.agg.Covariance.fit(pairs))
        pairs.select(wm.weightColumn(col("x")).as("w"))
          .agg(avg(col("w")).as("mw"), count(lit(1)).as("n")).collect()(0)
      }
      checksDf(s, Seq(
        "mean_weight_minus_one" -> (row.getDouble(0) - 1.0),
        "n_pairs" -> row.getLong(1).toDouble))
    }),

    // ---- column selection + NaN/Inf row dropping (q139): the reference
    // covariance column_selection + drop-nan semantics as ONE exactly
    // SQL-replayable rung. Non-finite values are injected
    // deterministically: dim 1 (UNSELECTED) gets NaN on t % 7 == 3 and
    // must NOT drop the row once dims (0, 2) are selected; dim 2
    // (SELECTED) gets +Inf on t % 5 == 2 and must. Pure codegen
    // predicate at the scan — no shuffle. ------------------------------
    "q139_select_drop_nonfinite" -> ((s, dir) => {
      val traj = Trajectories.fromLineitem(s, dir)
        .withColumn(Trajectories.FeatCol, array(
          col(Trajectories.FeatCol).getItem(0),
          when(col("t") % 7 === 3, lit(Double.NaN))
            .otherwise(col(Trajectories.FeatCol).getItem(1)),
          when(col("t") % 5 === 2, lit(Double.PositiveInfinity))
            .otherwise(col(Trajectories.FeatCol).getItem(2)),
          col(Trajectories.FeatCol).getItem(3)))
      val kept = Trajectories.dropNonFinite(
        Trajectories.selectColumns(traj, Seq(0, 2)))
      kept.agg(count(lit(1)).as("n"),
        round(avg(expr("features[0]")), 6).as("m0"),
        round(avg(expr("features[1]")), 6).as("m1"))
    }),

    // ---- Chan pairwise moment merge (q148): MomentsBuf.mergeIn of two
    // disjoint halves equals the single-pass accumulation over the same
    // rows (the associativity the treeAggregate combine tree relies on),
    // with the pair count anchored by exact SQL over lineitem. ----------
    "q148_moments_combine" -> ((s, dir) => {
      val rows = liPairs(s, dir).where(col("traj_id") % 17 === 0)
        .orderBy(col("traj_id"), col("t"))
        .select(col("traj_id"), col("x"), col("y")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
      val full = graft.agg.MomentsBuf.empty
      rows.foreach { case (_, x, y) => full.add(x, y, 1.0) }
      val h0 = graft.agg.MomentsBuf.empty
      val h1 = graft.agg.MomentsBuf.empty
      rows.foreach { case (id, x, y) =>
        (if (id % 2 == 0) h0 else h1).add(x, y, 1.0) }
      h0.mergeIn(h1)
      def maxDiff(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (p, q) => math.abs(p - q) }.foldLeft(0.0)(math.max)
      val scale = math.max(1.0, full.w)
      checksDf(s, Seq(
        "n_pairs" -> full.n.toDouble,
        "merged_weight_resid" -> (h0.w - full.w) / scale,
        "merged_sums_resid" -> (maxDiff(h0.sx, full.sx)
          .max(maxDiff(h0.sy, full.sy))) / scale,
        "merged_second_moments_resid" -> (maxDiff(h0.sxx, full.sxx)
          .max(maxDiff(h0.sxy, full.sxy)).max(maxDiff(h0.syy, full.syy))) / scale))
    }),

    // ---- stochastic example generators battery (q150): ellipsoids,
    // sqrt model, swiss-roll, and the PBF fluid surface (reference
    // data/_datasets.py; q47 gate pattern). Exact anchors: row counts,
    // feature dims, state ranges, swiss-roll nearest-neighbor transition
    // support, PBF positions inside the box. Statistical gates: the
    // state-conditional observation separations the generators define. --
    "q150_sim_battery" -> ((s, dir) => {
      val ell = graft.data.ExampleData.ellipsoids(s, nTraj = 4, length = 1000,
        seed = 42L).localCheckpoint()
      val ellRow = ell.agg(count(lit(1)),
        max(size(col("features"))), min(size(col("features"))),
        sum(when(col("state") < 0 || col("state") > 1, 1L).otherwise(0L)),
        avg(when(col("state") === 1, expr("features[1]"))),
        avg(when(col("state") === 0, expr("features[1]")))).collect()(0)
      val ellSep = ellRow.getDouble(4) - ellRow.getDouble(5)

      val sq = graft.data.ExampleData.sqrtModel(s, nTraj = 4, length = 1000,
        seed = 42L).localCheckpoint()
      val sqRow = sq.agg(count(lit(1)),
        sum(when(col("state") < 0 || col("state") > 1, 1L).otherwise(0L)),
        avg(when(col("state") === 0, expr("features[1]"))),
        avg(when(col("state") === 1, expr("features[1]")))).collect()(0)
      val sqSep = sqRow.getDouble(2) - sqRow.getDouble(3)

      val sw = graft.data.ExampleData.swissrollModel(s, nTraj = 4, length = 1000,
        seed = 42L).localCheckpoint()
      val swPairs = sw
        .withColumn("s1", lead(col("state"), 1)
          .over(Window.partitionBy("traj_id").orderBy("t")))
        .where(col("s1").isNotNull)
      val swRow = sw.agg(count(lit(1)), max(size(col("features"))),
        sum(when(col("state") < 0 || col("state") > 3, 1L).otherwise(0L))).collect()(0)
      val swOffSupport = swPairs.where(abs(col("s1") - col("state")) > 1).count()

      val pbf = graft.data.Pbf.trajectories(s, drifts = Seq(0.0, 1.0),
        steps = 50, nBurnIn = 100).localCheckpoint()
      val pbfRow = pbf.agg(count(lit(1)),
        sum(when(size(col("features")) % 2 =!= 0, 1L).otherwise(0L)),
        // centered box: x in [-40, 40], y in [-25, 25] — every coordinate
        // is clamped inside the half-width 40
        sum(when(exists(col("features"), v => abs(v) > 40.0 + 1e-9),
          1L).otherwise(0L))).collect()(0)

      checksDf(s, Seq(
        "ellipsoids_rows" -> ellRow.getLong(0).toDouble,
        "ellipsoids_dim" -> ellRow.getInt(1).toDouble,
        "ellipsoids_dim_min" -> ellRow.getInt(2).toDouble,
        "ellipsoids_state_oob" -> ellRow.getLong(3).toDouble,
        "ellipsoids_sep_out_of_bounds" -> math.max(0.0, math.abs(ellSep - 5.0) - 0.25),
        "sqrt_rows" -> sqRow.getLong(0).toDouble,
        "sqrt_state_oob" -> sqRow.getLong(1).toDouble,
        "sqrt_sep_out_of_bounds" -> math.max(0.0, math.abs(sqSep - 2.0) - 0.3),
        "swissroll_rows" -> swRow.getLong(0).toDouble,
        "swissroll_dim" -> swRow.getInt(1).toDouble,
        "swissroll_state_oob" -> swRow.getLong(2).toDouble,
        "swissroll_off_support" -> swOffSupport.toDouble,
        "pbf_rows" -> pbfRow.getLong(0).toDouble,
        "pbf_dim_odd" -> pbfRow.getLong(1).toDouble,
        "pbf_out_of_box" -> pbfRow.getLong(2).toDouble))
    }),

    // ---- constant-column sparsification (q152): two constant dims are
    // appended to the lineitem features; fitFeaturesSparse must detect
    // them in its min/max pass, aggregate only the varying 2x2 block,
    // and reconstitute the full 4x4 model — gated against DuckDB's
    // var_samp/covar_samp on the raw columns (constants: exact mean,
    // zero covariance). --------------------------------------------------
    "q152_sparse_covariance" -> ((s, dir) => {
      val traj = liTraj(s, dir).withColumn(Trajectories.FeatCol, array(
        col(Trajectories.FeatCol).getItem(0), lit(7.5),
        col(Trajectories.FeatCol).getItem(2), lit(-2.5)))
      val m = Covariance.fitFeaturesSparse(traj, d = 4)
      covModelDf(s, m, lagged = false)
    }),

    // ---- SQL entry point, TPC-H Q3 shape (q182): shipping-priority —
    // the `spark.sql(...)` surface over registered views, exercising the
    // classic dim-filter -> broadcast-joined fact scan -> agg -> top-k
    // chain that Catalyst should plan with the customer filter pushed to
    // its scan and the small side broadcast. Dates normalize to DATE at
    // view registration (type-agnostic to the parquet timestamp width).
    // Revenue is reported in thousands and rounded at 3 dp (dollar
    // precision) — at 6 dp the O(100) group sums sat ~3% per value from
    // the sum-order noise floor, and an sf0.001 robustness check caught
    // exactly that one-ulp straddle. ------------------------------------
    "q182_sql_q3" -> ((s, dir) => {
      registerTpchViews(s, dir)
      s.sql("""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)) / 1000.0, 3)
                 AS revenue_k,
               o_orderdate, o_orderpriority
        FROM th_customer JOIN th_orders ON c_custkey = o_custkey
          JOIN th_lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < DATE'1998-01-01'
          AND l_shipdate > DATE'1998-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_k DESC, l_orderkey
        LIMIT 10""")
    }),

    // ---- SQL entry point, TPC-H Q5 shape (q183): local-supplier
    // volume — the six-table star join (customer and supplier in the
    // SAME nation), per-nation revenue in a one-year window. The dims
    // chain region -> nation -> (customer, supplier) and broadcast; the
    // only big shuffle is the orders-lineitem join. ---------------------
    "q183_sql_q5" -> ((s, dir) => {
      registerTpchViews(s, dir)
      s.sql("""
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)) / 1000.0, 3)
                 AS revenue_k
        FROM th_customer
          JOIN th_orders ON c_custkey = o_custkey
          JOIN th_lineitem ON l_orderkey = o_orderkey
          JOIN th_supplier ON l_suppkey = s_suppkey
            AND c_nationkey = s_nationkey
          JOIN th_nation ON c_nationkey = n_nationkey
          JOIN th_region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= DATE'1997-01-01'
          AND o_orderdate < DATE'1998-01-01'
        GROUP BY n_name
        ORDER BY revenue_k DESC, n_name""")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(

    // Q3 twin: identical SQL over the same normalized DATE views.
    "q182_sql_q3" ->
      """SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)) / 1000.0, 3)
             AS revenue_k,
           CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
         FROM customer JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
           AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
         GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
         ORDER BY revenue_k DESC, l_orderkey
         LIMIT 10""",

    // Q5 twin.
    "q183_sql_q5" ->
      """SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)) / 1000.0, 3)
             AS revenue_k
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue_k DESC, n_name""",
    "q01_tpch_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q72_order_priority_join" ->
      """SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_lines,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority""",

    "q25_symbol_remap_join" ->
      """SELECT n_name, count(*) AS n_customers
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",

    "q02_lag_pairs" ->
      s"""WITH t AS (SELECT user_id AS traj_id, value,
            LEAD(value, 1) OVER ($evWindowSql) AS v1 FROM events)
          SELECT traj_id, count(*) AS n_pairs,
            round(sum(value * v1) / 1000000.0, 6) AS sxy_m
          FROM t WHERE v1 IS NOT NULL GROUP BY traj_id""",

    "q12_strided_subsample" ->
      s"""WITH d AS (SELECT user_id AS traj_id,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t, value FROM events)
          SELECT traj_id, count(*) AS n, round(sum(value), 4) AS sum_val
          FROM d WHERE t % 3 = 0 GROUP BY traj_id""",

    "q13_derivative" ->
      s"""WITH d AS (SELECT user_id AS traj_id,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t, value FROM events),
          x AS (SELECT traj_id, t, value,
            LAG(value, 1) OVER (PARTITION BY traj_id ORDER BY t) AS pv,
            LEAD(value, 1) OVER (PARTITION BY traj_id ORDER BY t) AS nv
            FROM d)
          SELECT traj_id, t, round(CASE
            WHEN pv IS NULL AND nv IS NULL THEN NULL
            WHEN pv IS NULL THEN (nv - value) / 1.0
            WHEN nv IS NULL THEN (value - pv) / 1.0
            ELSE (nv - pv) / 2.0 END, 6) AS deriv
          FROM x""",

    "q03_cov_moments" ->
      """SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS w,
         round(avg(l_quantity/50.0), 6) AS m0_0,
         round(avg(l_extendedprice/100000.0), 6) AS m0_1,
         round(avg(l_discount), 6) AS m0_2,
         round(avg(l_tax), 6) AS m0_3,
         round(covar_samp(l_quantity/50.0, l_quantity/50.0), 6) AS c00_0_0,
         round(covar_samp(l_quantity/50.0, l_extendedprice/100000.0), 6) AS c00_0_1,
         round(covar_samp(l_quantity/50.0, l_discount), 6) AS c00_0_2,
         round(covar_samp(l_quantity/50.0, l_tax), 6) AS c00_0_3,
         round(covar_samp(l_extendedprice/100000.0, l_extendedprice/100000.0), 6) AS c00_1_1,
         round(covar_samp(l_extendedprice/100000.0, l_discount), 6) AS c00_1_2,
         round(covar_samp(l_extendedprice/100000.0, l_tax), 6) AS c00_1_3,
         round(covar_samp(l_discount, l_discount), 6) AS c00_2_2,
         round(covar_samp(l_discount, l_tax), 6) AS c00_2_3,
         round(covar_samp(l_tax, l_tax), 6) AS c00_3_3
         FROM lineitem""",

    "q04_lagged_cov" ->
      s"""WITH t AS (SELECT user_id, value,
            LEAD(value, 2) OVER ($evWindowSql) AS v1 FROM events)
          SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS w,
            round(avg(value), 6) AS m0_0, round(avg(v1), 6) AS mt_0,
            round(covar_samp(value, value), 6) AS c00_0_0,
            round(covar_samp(value, v1), 6) AS c0t_0_0,
            round(covar_samp(v1, v1), 6) AS ctt_0_0
          FROM t WHERE v1 IS NOT NULL""",

    "q11_box_discretize" ->
      """WITH mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
         b AS (SELECT CAST(least(floor((value - mn) / ((mx - mn) / 10)), 9) AS INT) AS state
               FROM events, mm)
         SELECT state, count(*) AS cnt FROM b GROUP BY state""",

    // Persistence twin: every roundtrip residual is a driver-exact zero;
    // the VAMP component count on the full-rank 4-feature lineitem
    // trajectory is 4 (same data assumption as q30's spectral grid).
    "q250_model_persistence" ->
      """SELECT * FROM (VALUES
           ('koopman_json_roundtrip', 0.0),
           ('koopman_serialization_roundtrip', 0.0),
           ('cluster_json_roundtrip', 0.0),
           ('koopman_k', 4.0)
         ) AS t("check", "value")""",

    // Sparsification twin: the sparse path is exactly the dense path on
    // any data (the residuals are driver-exact zeros); the row anchor is
    // the lineitem count.
    "q251_sparse_covariance" ->
      """SELECT 'sparse_vs_dense_means' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'sparse_vs_dense_cov', 0.0
         UNION ALL SELECT 'planted_constant_means', 0.0
         UNION ALL SELECT 'constant_rows_zero_cov', 0.0
         UNION ALL SELECT 'n_rows',
           (SELECT CAST(count(*) AS DOUBLE) FROM lineitem)""",

    // One-hot twin: column sums of the one-hot matrix are the state
    // histogram over the full 0..9 component grid; the row-sum anchor is
    // 0 by construction (exactly one component fires per row).
    "q249_box_onehot" ->
      """WITH mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
         b AS (SELECT CAST(least(floor((value - mn) / ((mx - mn) / 10)), 9) AS INT) AS state
               FROM events, mm),
         h AS (SELECT state, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY state),
         grid AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)) g(state))
         SELECT CAST(grid.state AS VARCHAR) AS component,
           coalesce(h.n, 0) AS n_ones
         FROM grid LEFT JOIN h ON grid.state = h.state
         UNION ALL SELECT 'rowsum_bad', CAST(0 AS BIGINT)""",

    "q14_hist2d" ->
      s"""SELECT CAST(least(floor(value / 30.0), 10) AS INT) AS vbin,
            ${Trajectories.eventTypeStateSql} AS state, count(*) AS cnt
          FROM events GROUP BY 1, 2""",

    "q15_energy2d" ->
      s"""WITH h AS (SELECT CAST(least(floor(value / 30.0), 10) AS INT) AS vbin,
            ${Trajectories.eventTypeStateSql} AS state, count(*) AS cnt
          FROM events GROUP BY 1, 2)
          SELECT vbin, state,
            round(-ln(CAST(cnt AS DOUBLE) / (SELECT CAST(sum(cnt) AS DOUBLE) FROM h)), 6) AS energy
          FROM h""",

    // Koopman-weight normalization battery; the pair count is exact SQL.
    "q63_koopman_weights" ->
      """SELECT 'mean_weight_minus_one' AS "check", 0.0 AS "value"
         UNION ALL SELECT 'n_pairs',
           (SELECT CAST(count(*) AS DOUBLE) FROM
             (SELECT LEAD(l_linenumber) OVER
                (PARTITION BY l_orderkey ORDER BY l_linenumber) AS nx
              FROM lineitem) WHERE nx IS NOT NULL)""",

    // Bootstrap contract battery; the draw count is exact SQL.
    "q45_bootstrap" ->
      """SELECT 'n_draws' AS "check",
           (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) FROM events) AS "value"
         UNION ALL SELECT 'noncontiguous_draws', 0.0
         UNION ALL SELECT 'unmatched_lengths', 0.0""",

    // OU generator battery: row count pinned, moment gates zero.
    "q47_generator_ou" ->
      """SELECT * FROM (VALUES
           ('n_rows', 16000.0), ('mean_out_of_bounds', 0.0),
           ('var_out_of_bounds', 0.0)) AS t("check", "value")""",

    "q44_whitening" ->
      """SELECT CAST(i.r AS INT) AS i, CAST(j.r AS INT) AS j,
           CASE WHEN i.r = j.r THEN 1.0 ELSE 0.0 END AS cov
         FROM range(0, 4) i(r), range(0, 4) j(r)""",

    "q42_basis_monomials" ->
      """SELECT round(avg(1.0), 6) AS m_1,
         round(avg(value / 100.0), 6) AS m_x0,
         round(avg(hour(ts) / 24.0), 6) AS m_x1,
         round(avg((value / 100.0) * (value / 100.0)), 6) AS m_x0x0,
         round(avg((value / 100.0) * (hour(ts) / 24.0)), 6) AS m_x0x1,
         round(avg((hour(ts) / 24.0) * (hour(ts) / 24.0)), 6) AS m_x1x1
         FROM events""",

    "q43_kernel_gaussian" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS ida, b.vec_id AS idb,
           round(exp(-list_distance(a.v, b.v) * list_distance(a.v, b.v)
             / (2.0 * 16.0)), 6) AS k
         FROM e a JOIN e b ON b.vec_id = a.vec_id + 1""",

    "q48_sindy_normal_eq" ->
      s"""WITH d AS (SELECT user_id AS traj_id,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t, value / 100.0 AS x FROM events),
          g AS (SELECT traj_id, t, x,
            LAG(x, 1) OVER (PARTITION BY traj_id ORDER BY t) AS px,
            LEAD(x, 1) OVER (PARTITION BY traj_id ORDER BY t) AS nx FROM d),
          h AS (SELECT x, CASE
            WHEN px IS NULL AND nx IS NULL THEN NULL
            WHEN px IS NULL THEN nx - x
            WHEN nx IS NULL THEN x - px
            ELSE (nx - px) / 2.0 END AS xd FROM g)
          SELECT count(*) AS n,
            round(avg(x), 6) AS a01,
            round(avg(x * x), 6) AS a02,
            round(avg(x * x * x), 6) AS a12,
            round(avg(x * x * x * x), 6) AS a22,
            round(avg(xd), 6) AS b0,
            round(avg(x * xd), 6) AS b1,
            round(avg(x * x * xd), 6) AS b2
          FROM h WHERE xd IS NOT NULL""",

    "q66_partial_fit_cov" ->
      s"""WITH t AS (SELECT user_id, value,
            LEAD(value, 2) OVER ($evWindowSql) AS v1 FROM events)
          SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS w,
            round(avg(value), 6) AS m0_0, round(avg(v1), 6) AS mt_0,
            round(covar_samp(value, value), 6) AS c00_0_0,
            round(covar_samp(value, v1), 6) AS c0t_0_0,
            round(covar_samp(v1, v1), 6) AS ctt_0_0
          FROM t WHERE v1 IS NOT NULL""",

    // Selection/drop twin: selected dims are l_quantity/50 and
    // l_discount; only the injected +Inf rows (t % 5 = 2) drop.
    "q139_select_drop_nonfinite" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
           round(avg(l_quantity / 50.0), 6) AS m0,
           round(avg(l_discount), 6) AS m1
         FROM lineitem WHERE (l_linenumber - 1) % 5 <> 2""",

    // Combine twin: the pair count is exact SQL (per-order line counts
    // minus one, over the sampled orders); merge residuals are zeros.
    "q148_moments_combine" ->
      """SELECT 'n_pairs' AS "check",
           (SELECT CAST(sum(c - 1) AS DOUBLE) FROM
             (SELECT count(*) AS c FROM lineitem
              WHERE l_orderkey % 17 = 0 GROUP BY l_orderkey)) AS "value"
         UNION ALL SELECT 'merged_weight_resid', 0.0
         UNION ALL SELECT 'merged_sums_resid', 0.0
         UNION ALL SELECT 'merged_second_moments_resid', 0.0""",

    // Sim-battery twin: exact anchors and zero residuals.
    "q150_sim_battery" ->
      """SELECT 'ellipsoids_rows' AS "check", 4000.0 AS "value"
         UNION ALL SELECT 'ellipsoids_dim', 2.0
         UNION ALL SELECT 'ellipsoids_dim_min', 2.0
         UNION ALL SELECT 'ellipsoids_state_oob', 0.0
         UNION ALL SELECT 'ellipsoids_sep_out_of_bounds', 0.0
         UNION ALL SELECT 'sqrt_rows', 4000.0
         UNION ALL SELECT 'sqrt_state_oob', 0.0
         UNION ALL SELECT 'sqrt_sep_out_of_bounds', 0.0
         UNION ALL SELECT 'swissroll_rows', 4000.0
         UNION ALL SELECT 'swissroll_dim', 3.0
         UNION ALL SELECT 'swissroll_state_oob', 0.0
         UNION ALL SELECT 'swissroll_off_support', 0.0
         UNION ALL SELECT 'pbf_rows', 100.0
         UNION ALL SELECT 'pbf_dim_odd', 0.0
         UNION ALL SELECT 'pbf_out_of_box', 0.0""",

    // Sparsification twin: varying dims are l_quantity/50 and
    // l_discount; constant dims carry their constant mean and zero
    // covariance rows/columns.
    "q152_sparse_covariance" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE), 6) AS w,
           round(avg(l_quantity / 50.0), 6) AS m0_0,
           7.5 AS m0_1,
           round(avg(l_discount), 6) AS m0_2,
           -2.5 AS m0_3,
           round(var_samp(l_quantity / 50.0), 6) AS c00_0_0,
           0.0 AS c00_0_1,
           round(covar_samp(l_quantity / 50.0, l_discount), 6) AS c00_0_2,
           0.0 AS c00_0_3,
           0.0 AS c00_1_1, 0.0 AS c00_1_2, 0.0 AS c00_1_3,
           round(var_samp(l_discount), 6) AS c00_2_2,
           0.0 AS c00_2_3, 0.0 AS c00_3_3
         FROM lineitem""",
  )
}
