package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins tools/bench_names.json (the decoder manifest for Bench's compact
  * queries_ms array) to the live query registry. If this fails, re-run
  * `sbt "runMain graft.tools.BenchManifest"` and commit the result. */
class BenchManifestSpec extends AnyFunSuite {

  test("bench_names.json matches the registry, ordered by query number") {
    val path = java.nio.file.Paths.get("tools/bench_names.json")
    assert(java.nio.file.Files.exists(path), s"$path missing — run graft.tools.BenchManifest")
    val onDisk = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    assert(onDisk == graft.tools.BenchManifest.json,
      "tools/bench_names.json is stale — re-run graft.tools.BenchManifest")
  }

  test("query numbers are unique and parse (rank array is unambiguous)") {
    val nums = SparkEntry.queries.keys.toSeq.map(graft.tools.BenchManifest.qnum)
    assert(nums.distinct.size == nums.size, "duplicate qNN prefixes")
  }

  test("tools/baselines.json covers exactly the registry with sane values " +
    "(manifest, baseline table and registry are one surface)") {
    // the three places that must agree: SparkEntry.queries (the code),
    // tools/bench_names.json (the decoder — pinned above), and
    // tools/baselines.json (the SINGLE canonical cap ledger, consumed by
    // bench_compare.py; r09 and earlier embedded the table in the python
    // source, which let the narrative and the tool drift). A stale
    // ledger silently shrinks regression coverage; a leftover entry
    // means a query was dropped without its baseline.
    val path = java.nio.file.Paths.get("tools/baselines.json")
    assert(java.nio.file.Files.exists(path), s"$path missing")
    val jsonTxt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val entries = "\"(q\\d+)\"\\s*:\\s*([0-9.eE+-]+)".r.findAllMatchIn(jsonTxt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val registryKeys = SparkEntry.queries.keys
      .map(_.split("_")(0)).toSet
    val missing = registryKeys -- entries.keySet
    val stale = entries.keySet -- registryKeys
    assert(missing.isEmpty && stale.isEmpty,
      s"tools/baselines.json drift — missing: ${missing.toSeq.sorted
        .mkString(",")}; stale: ${stale.toSeq.sorted.mkString(",")} " +
        "(add first-appearance baselines per BASELINE.md protocol)")
    val bad = entries.filter { case (_, v) => !(v > 0.0 && v < 600.0) }
    assert(bad.isEmpty, s"implausible baseline values: $bad")
    // bench_compare.py must consume the JSON, not re-embed a table
    val py = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/bench_compare.py")), "UTF-8")
    assert(py.contains("baselines.json") && !py.contains("BASELINES = {"),
      "bench_compare.py must load tools/baselines.json (single source of truth)")
    // ...and must decode the r11+ centisecond rank array
    assert(py.contains("queries_cs"),
      "bench_compare.py must decode the queries_cs encoding Bench emits")
    // the canary baselines Bench stamps into the record as drift_cs must
    // BE the canonical ledger values — a silent divergence would make the
    // in-record drift and bench_compare's own median disagree
    graft.tools.BenchManifest.canaryBaselines.foreach { case (q, b) =>
      assert(entries.get(q).contains(b),
        s"canary $q pinned at $b in BenchManifest but tools/baselines.json " +
          s"has ${entries.get(q)} — re-pin BenchManifest.canaryBaselines")
    }
    // ...and bench_compare must use the same trio
    graft.tools.BenchManifest.canaryBaselines.foreach { case (q, _) =>
      assert(py.contains("\"" + q + "\""),
        s"bench_compare.py CANARIES must include $q")
    }
  }

  test("metricLine stamps the in-record canary drift coefficient (drift_cs)") {
    // trio at exactly 1.30x of their pinned baselines, plus filler —
    // the stamped median must read 130
    val trio = graft.tools.BenchManifest.canaryBaselines.map {
      case (q, b) => s"${q}_x" -> b * 1.3
    }
    val line = graft.Bench.metricLine((trio :+ ("q999_filler" -> 1.0))
      .sortBy(p => graft.tools.BenchManifest.qnum(p._1)))
    assert(line.contains("\"drift_cs\":130"), line)
    // a canary-free subset emits no stamp rather than a misleading one
    val noCanary = graft.Bench.metricLine(Seq("q999_filler" -> 1.0))
    assert(!noCanary.contains("drift_cs"), noCanary)
  }

  test("the driver metric line keeps >= 800 bytes of tail headroom at 270 " +
    "all-at-2x-cap entries (BENCH_r07/r10 were evicted from the 2000-byte tail)") {
    // worst realistic payload: every query at exactly 2x its baseline
    // (the cap — anything past that is a failed round regardless of the
    // record), padded to 270 entries with the median. The driver's tail
    // is 2000 bytes and sbt's "[success] Total time..." line costs ~90,
    // so the line must stay under 1110 bytes for one complete copy plus
    // 800 bytes of stray-log insurance.
    val jsonTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/baselines.json")), "UTF-8")
    val base = "\"(q\\d+)\"\\s*:\\s*([0-9.eE+-]+)".r.findAllMatchIn(jsonTxt)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq.sortBy(_._1)
    val atCap = base.map { case (k, v) => k -> v * 2.0 }
    val med = atCap.map(_._2).sorted.apply(atCap.size / 2)
    val padded = atCap ++ (atCap.size until 270).map(i => s"q${900 + i}" -> med)
    val line = graft.Bench.metricLine(padded)
    assert(line.length <= 2000 - 90 - 800,
      s"metric line ${line.length} bytes at 270 cap-level entries — " +
        "less than 800 bytes of tail headroom; shrink the encoding")
  }

  test("sfField emits a valid JSON number or no field") {
    assert(graft.Bench.sfField("/data/sf0.1") == "\"sf\":0.1,")
    assert(graft.Bench.sfField("/data/sf10/") == "\"sf\":10,")
    assert(graft.Bench.sfField("sf1") == "\"sf\":1,")
    Seq("/data/sf1.", "/data/sf.5", "/data/sf1.2.3", "/data/sf", "/data/tpch")
      .foreach(d => assert(graft.Bench.sfField(d) == "", d))
  }
}
