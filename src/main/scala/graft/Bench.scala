package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
  // comma-decimal locale would render 1,234 — invalid JSON
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", v)
  private def shortName(n: String): String = n.takeWhile(_ != '_')

  /** The `"sf":<number>,` field of the named line, from a data directory
    * ending in `sf<number>` (an optional trailing `/` is ignored). The
    * number must be a valid JSON number, so `sf1.` or `sf.5` give no
    * field at all. */
  def sfField(sfDir: String): String =
    """sf(\d+(?:\.\d+)?)$""".r.findFirstMatchIn(sfDir.stripSuffix("/"))
      .map(m => s""""sf":${m.group(1)},""").getOrElse("")

  /** The driver-parsed metric line, built from (name, seconds) pairs
    * ordered by ascending query number.
    *
    * The driver captures only the LAST 2000 bytes of stdout (measured
    * from BENCH_r04.json's tail field) and sbt's trailing "[success]"
    * line eats ~90 of those. A 260-entry named map (~2.7 KB) can NEVER
    * fit, and even the r09 integer-millisecond rank array left < 600
    * bytes of headroom at 270 queries — one stray log line was enough to
    * evict it (BENCH_r07 + r10 both recorded parsed:null). Encoding:
    * integer CENTISECONDS in a plain JSON array ordered by ascending
    * query number ("queries_cs", ~3.5 bytes/entry); the rank->name
    * mapping is the committed manifest tools/bench_names.json
    * (BenchManifestSpec pins it to the registry; tools/bench_compare.py
    * decodes either encoding). 10 ms granularity is an order of
    * magnitude below the box's measured scheduler jitter (±300 ms,
    * BASELINE.md), and sub-200 ms baselines sit in bench_compare's
    * noise-floor section regardless. BenchManifestSpec asserts >= 800
    * bytes of tail headroom for this line at 270 all-at-2x-cap entries. */
  def metricLine(ordered: Seq[(String, Double)]): String = {
    val total = ordered.map(_._2).sum
    val csArr = ordered.map { case (_, v) => math.round(v * 100).toString }
      .mkString("[", ",", "]")
    // self-normalizing record (VERDICT r15 task 3): stamp the canary
    // drift coefficient — median in-record ratio of the trio vs its
    // pinned baselines, x100 — into the line so every BENCH_rNN.json
    // carries its own box-drift measurement ("drift_cs":126 = 1.26x).
    // ~17 bytes against the spec-asserted >= 800-byte tail headroom.
    val byShort = ordered.map { case (k, v) => shortName(k) -> v }.toMap
    val ratios = graft.tools.BenchManifest.canaryBaselines.flatMap {
      case (q, b) => byShort.get(q).map(_ / b)
    }.sorted
    val driftField = if (ratios.isEmpty) "" else {
      val med = if (ratios.size % 2 == 1) ratios(ratios.size / 2)
        else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0
      s""""drift_cs":${math.round(med * 100)},"""
    }
    // "nf:" prints the noise-floor carve-out INTO the record (VERDICT r12
    // task 8): sub-200ms-baseline entries within 300ms absolute delta AND
    // under 3x ratio are scheduler jitter, never cap violations — the
    // rule bench_compare applies mechanically, stated (compactly — the
    // 800-byte tail-headroom contract is tight) where the adjudicator
    // reads the timings. All THREE clauses are printed: omitting the
    // r<3 bound (r13 review) would let a 4x regression on a tiny
    // baseline read as carved-out when the tool counts it as a
    // violation. Full text in BASELINE.md. (r16: the "=noise" label and
    // the "n" count field were dropped to fund the drift_cs stamp under
    // the same headroom bound — array length is the count, and
    // bench_compare hard-errors on a manifest-length mismatch anyway.)
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""enc":"cs/qNN asc;bench_names.json;nf:d<.3s&b<.2s&r<3x",""" +
      driftField +
      s""""queries_cs":$csArr}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // optional comma-separated query-name filter for targeted timing
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // untimed session warmup: the first executed query otherwise absorbs
    // ~5 s of one-time JVM/codegen/scan-infra cost (documented in
    // BASELINE.md) and WHICH query that is shifts with map ordering as
    // queries are added — q28 measured 0.85 s warm vs ~7 s when it drew
    // the first slot. Warm the scan + window + agg + shuffle paths once.
    try {
      SparkEntry.queries("q01_tpch_agg")(spark, sfDir).count()
      SparkEntry.queries("q02_lag_pairs")(spark, sfDir).count()
    } catch { case _: Throwable => () }
    // min over two timed passes per query: single-shot timings on this
    // box carry ~+-15% scheduler/GC noise with occasional spurious 2x+
    // outliers on sub-second queries (observed: the same query 0.9 s and
    // 2.2 s in back-to-back sweeps); the per-query minimum is the
    // standard low-noise estimator and is applied uniformly — protocol
    // documented in BASELINE.md.
    // release each query's frozen frames as soon as its pass is timed
    // (VERDICT r16 task 2): a full sweep is 268 queries x 2-3 passes in
    // ONE JVM against 29 Materialize.frozen call sites, and leaving the
    // localCheckpoint blocks to the GC-driven ContextCleaner is exactly
    // the accumulation class that OOM'd 8 GiB drivers in AuditBattery's
    // late families. unpersist(blocking=false) runs OUTSIDE the timed
    // window so the pinned baselines (measured pre-unfreeze) stay
    // comparable.
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      var df: org.apache.spark.sql.DataFrame = null
      val t0 = System.nanoTime()
      val ok = try { df = fn(spark, sfDir); df.count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
      val t = (System.nanoTime() - t0) / 1e9
      if (df != null)
        try graft.util.Materialize.unfreeze(df) catch { case _: Throwable => () }
      (t, ok)
    }
    // SPARK_GRAFT_PASSES=1: single-pass mode for one-off SCALING sweeps
    // (the sf1.0 record) where the question is ">10x growth vs sf0.1",
    // not a 2x-cap adjudication — min-of-2/3 noise suppression buys
    // nothing against a 10x threshold and doubles a multi-hour sweep.
    val singlePass = sys.env.get("SPARK_GRAFT_PASSES").contains("1")
    val pass1 = selected.map { case (name, fn) => name -> timeOnce(name, fn) }
    val pass2 = if (singlePass) pass1
      else selected.map { case (name, fn) => name -> timeOnce(name, fn) }
    val results2 = selected.map { case (name, _) =>
      // min over SUCCESSFUL passes only — a fast crash must not masquerade
      // as a fast query; if both failed, report the slower (worst) time
      val (t1, ok1) = pass1(name)
      val (t2, ok2) = pass2(name)
      name -> ((ok1, ok2) match {
        case (true, true) => math.min(t1, t2)
        case (true, false) => t1
        case (false, true) => t2
        case (false, false) => math.max(t1, t2)
      })
    }
    // third sample for sub-2s queries only: the ±15-30% scheduler noise
    // documented in BASELINE.md is ABSOLUTE ~±0.3 s on this box, which is
    // cap-threatening only for sub-second queries with sub-second
    // baselines; a min-of-3 on just those (~20 s extra) halves that tail
    // risk without re-running the expensive queries
    val results = results2.map { case (name, t) =>
      if (t < 2.0 && !singlePass) {
        val (t3, ok3) = timeOnce(name, selected(name))
        name -> (if (ok3) math.min(t, t3) else t)
      } else name -> t
    }
    // heap ledger line (VERDICT r16 tasks 2+4): the sweep's driver-heap
    // high-water mark, on stderr so it can never evict the metric line
    // from the driver's 2000-byte stdout tail
    System.err.println(s"[bench] driver heap peak: " +
      s"${graft.util.HeapStat.fmt(graft.util.HeapStat.peakGiB)} GiB " +
      s"(max ${Runtime.getRuntime.maxMemory / (1L << 30)} GiB)")
    // ordering is BenchManifest's — the single definition the committed
    // tools/bench_names.json decoder manifest is generated from, so the
    // rank array and the manifest cannot drift independently
    def qnum(n: String): Int = graft.tools.BenchManifest.qnum(n)
    val ordered = results.toSeq.sortBy { case (k, _) => qnum(k) }
    require(ordered.map(p => qnum(p._1)).distinct.size == ordered.size,
      "duplicate query numbers would corrupt the rank-ordered bench array")
    // full verbose map + top-10 for local logs only — keys chosen so
    // neither the driver's nor bench_compare's '{"metric"' scan can
    // latch onto them
    println("{\"full_queries\":" + ordered.map { case (k, v) =>
      "\"" + shortName(k) + "\":" + fmt(v) }.mkString("{", ",", "}") + "}")
    println("{\"top10\":" + ordered.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + shortName(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}") + "}")
    // a SPARK_GRAFT_ONLY-filtered run would misalign the rank array with
    // the full manifest — emit the legacy named map instead (local logs
    // are read whole, so the tail limit doesn't apply there)
    val line = if (only.isDefined)
      s"""{"metric":"total","value":${fmt(results.values.sum)},"unit":"sec","queries":""" +
        ordered.map { case (k, v) => "\"" + shortName(k) + "\":" + fmt(v) }
          .mkString("{", ",", "}") + "}"
    else metricLine(ordered)
    // ---- shutdown choreography (VERDICT r10 item 2): the metric lines
    // must be the FINAL stdout act. BENCH_r07 and BENCH_r10 both lost
    // the record to a post-spark.stop() state-store maintenance stack
    // trace ("Could not unload state store provider... RpcEnv already
    // stopped", ~1.9 KB) that landed AFTER the metric println and evicted
    // it from the driver's 2000-byte tail. Order of operations:
    //   1. stop any still-active streaming queries (each bench fn stops
    //      its own, but a failed pass can leak one);
    //   2. unload all state-store providers and their maintenance thread
    //      WHILE the RpcEnv is still alive (StateStore.stop() — reached
    //      reflectively: private[sql] erases to public bytecode), so the
    //      maintenance thread cannot wake up mid-shutdown and stack-trace;
    //   3. spark.stop();
    //   4. a short drain sleep for any async logger flush;
    //   5. print the metric line once, flush, exit.
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("stop").invoke(cls.getField("MODULE$").get(null))
    } catch { case _: Throwable => () }
    spark.stop()
    Thread.sleep(1500)
    // Driver per-query contract attempt (VERDICT r17 task 2): the
    // contract line {"metric","value","unit","queries":{name:sec},"sf"}
    // with FULL query names is ~7.5 KB — it can never survive the
    // driver's measured 2000-byte stdout tail (see metricLine's doc), so
    // it is printed FIRST: a comparator that scans the whole captured
    // stdout finds a complete named map, while a tail-window parser
    // still lands on the compact queries_cs record below, exactly as in
    // r13–r17. The named line cannot evict the compact one (it precedes
    // it), so the worst case is the r17 status quo.
    if (only.isEmpty) {
      println(s"""{"metric":"total","value":${fmt(results.values.sum)},"unit":"sec",""" +
        sfField(sfDir) + "\"queries\":" +
        ordered.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}") + "}")
    }
    println(line)
    System.out.flush()
  }
}
