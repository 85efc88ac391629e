"""Self-test of the benchmark's own reduction code.

    python3 perfbench/run.py --selftest

Checks the latency quantiles, failure accounting, output comparison, module
and phase attribution and the per-layer reduction in run.py, then the JVM-side digest (one short
Spark session). Exits non-zero on the first failure.
"""
import json
import os
import sys
import time

import run


def _q(name, latency, error=None, rows=3, digest="d", start=0, c_end=1, p_end=2, end=3):
    return {"name": name, "latency_s": latency, "error": error, "rows": rows,
            "digest": digest, "start_ms": start, "construct_end_ms": c_end,
            "plan_end_ms": p_end, "end_ms": end}


def test_latency_quantiles():
    def pas(p):
        return {"type": "pass", "pass": p, "wall_s": 1.0, "cpu_s": 3.0, "steal_frac": 0.0}

    def query(p, name, latency, **kw):
        return dict(_q(name, latency, **kw), type="query", **{"pass": p})
    exp = {n: {"rows": 3, "digest": "d"} for n in "abcdefghij"}
    warm = [float(i) for i in range(1, 19)]
    recs = [{"type": "setup", "setup_s": 5.0, "session_s": 3.0, "warmup_s": 2.0},
            {"type": "end", "peak_rss_mib": 2000.0}, pas(0), pas(1), pas(2)]
    # the cold pass: a memo fill makes one query slower than every warm one
    recs += [query(0, n, 100.0 if n == "a" else 0.5) for n in "abcdefghi"]
    recs += [query(1 + i // 9, "abcdefghi"[i % 9], x) for i, x in enumerate(warm)]
    recs.append(query(2, "j", 50.0, error="boom"))       # a failed warm query
    m, ctx = run.end_to_end(recs, exp)
    every = [100.0] + [0.5] * 8 + warm
    assert abs(m["query_p50_s"][0] - run.hd_quantile(every, 0.5)) < 1e-12
    assert abs(m["query_tail_s"][0] - run.hd_quantile(warm, 0.9)) < 1e-12, "warm passes only"
    assert 5.5 < m["query_p50_s"][0] < 6.5 and 15.0 < m["query_tail_s"][0] < 18.0
    assert ctx["latency_samples"] == 27 and ctx["tail_samples"] == 18
    assert ctx["query_tail_pct"] == 90 and ctx["query_max_s"] == 100.0
    assert abs(ctx["failed_frac"] - 1 / 28) < 1e-12
    assert m["setup_s"][0] == 5.0 and m["cpu_s"][0] == 3.0


def test_harrell_davis():
    xs = [float(x) for x in range(1, 28)]
    assert abs(run.hd_quantile(xs, 0.5) - 14.0) < 1e-3     # symmetric sample
    assert abs(run.hd_quantile([5.0] * 27, 0.62) - 5.0) < 1e-3
    assert run.hd_quantile(xs, 0.5) < run.hd_quantile(xs, 0.62) < run.hd_quantile(xs, 0.9)
    assert abs(run._beta_cdf(3.0, 3.0, 0.5) - 0.5) < 1e-6
    # one outlier moves the estimate a little, not by its own size
    assert run.hd_quantile(xs[:-1] + [1000.0], 0.5) - 14.0 < 0.1


def test_failure_accounting():
    exp = {"a": {"rows": 3, "digest": "d"}, "b": {"rows": 3, "digest": "d"},
           "c": {"rows": 3, "digest": "d"}}
    qs = [_q("a", 1.0), _q("b", 9.0, error="boom"), _q("c", 2.0, rows=4),
          _q("z", 0.5)]
    attempted, failed, lat = run.account(qs, exp)
    assert (attempted, failed) == (4, 3)
    assert lat == [1.0], "a failed query must never contribute a time"


def test_output_check():
    exp = {"a": {"rows": 3, "digest": "d"}}
    assert run.check_output(_q("a", 1.0), exp) is None
    assert "mismatch" in run.check_output(_q("a", 1.0, digest="e"), exp)
    assert "mismatch" in run.check_output(_q("a", 1.0, rows=2), exp)
    assert run.check_output(_q("a", 1.0, error="timed out"), exp) == "timed out"
    assert run.check_output(_q("b", 1.0), exp) == "no expected output stored"


def test_module_attribution():
    site = "\n".join([
        "org.apache.spark.sql.Dataset.collect(Dataset.scala:3456)",
        "scala.collection.immutable.List.map(List.scala:79)",
        "graft.markov.hmm.GaussianHmm$.fit(GaussianHmm.scala:210)",
        "graft.markov.Msm$.estimate(Msm.scala:88)",
        "graft.queries.MarkovQueries$.$anonfun$queries$7(MarkovQueries.scala:120)",
        "graft.perfbench.Harness$.runQuery(Harness.scala:157)"])
    assert run.module_of(site, "construct", False) == "markov.hmm"
    assert run.module_of("graft.util.Par$$anon$2.run(Par.scala:80)", "construct", False) == "util"
    assert run.module_of("graft.SparkEntry$.x(SparkEntry.scala:1)", "construct", False) == "queries"
    assert run.module_of("graft.newpkg.Foo$.bar(Foo.scala:1)", "construct", False) == "newpkg"
    harness_only = "graft.perfbench.Digest$.run(Digest.scala:30)"
    assert run.module_of(harness_only, "exec", False) == "exec"
    assert run.module_of(harness_only, "plan", False) == "plan"
    assert run.module_of("", "construct", False) == "queries"
    started = "\n".join([
        "org.apache.spark.sql.classic.DataStreamWriter.start(DataStreamWriter.scala:137)",
        "graft.queries.StreamingQueries$.$anonfun$queries$32(StreamingQueries.scala:354)"])
    assert run.module_of(started, "construct", True) == "streaming"
    q = _q("a", 1.0, start=100, c_end=200, p_end=210, end=400)
    assert run.phase_of({"start_ms": 150}, [q]) == (q, "construct")
    assert run.phase_of({"start_ms": 205}, [q]) == (q, "plan")
    assert run.phase_of({"start_ms": 210}, [q]) == (q, "exec")
    assert run.phase_of({"start_ms": 401}, [q]) == (None, None)


def test_per_layer():
    def pas(p, traced, wall):
        return {"type": "pass", "pass": p, "traced": traced, "wall_s": wall, "stages": 1,
                "tasks": 4, "task_failures": 0, "executor_run_s": 2.0, "executor_cpu_s": 1.5,
                "shuffle_write_bytes": 10, "shuffle_read_bytes": 10, "spill_bytes": 0,
                "input_bytes": 100, "result_bytes": 5, "heap_peak_gib": 1.0 + p, "gc_s": 0.1,
                "par_cpu_s": 0.2, "steal_frac": 0.0, "cpu_s": 3.0}

    def query(p, start):
        return dict(_q("a", 0.9, start=start, c_end=start + 500, p_end=start + 600,
                       end=start + 900), type="query", construct_s=0.5, plan_s=0.1,
                    exec_s=0.3, construct_cpu_s=0.2, slot_s=0.95, **{"pass": p})

    def job(p, start, site):
        return {"type": "job", "pass": p, "id": start, "start_ms": start, "end_ms": start + 50,
                "call_site": site, "streaming": False}
    recs = [pas(0, True, 1.0), pas(1, True, 1.0), pas(2, False, 0.8),
            query(0, 0), query(1, 2000), query(2, 4000),
            job(0, 100, "graft.markov.Msm$.x(Msm.scala:1)"),   # a memo fill in the cold pass
            job(1, 2700, "graft.perfbench.Digest$.run(Digest.scala:30)"),
            job(2, 4700, "graft.perfbench.Digest$.run(Digest.scala:30)"),  # untraced pass
            job(1, 3000, "")]                                   # between queries
    m, queries, jobs = run.per_layer(recs, 4)
    v = {k: x for k, (x, _) in m.items()}
    assert len(queries) == 2 and len(jobs) == 3, "traced passes only, the cold one included"
    assert v["markov.jobs"] == 1 and v["exec.jobs"] == 1 and v["trace.unattributed_jobs"] == 1
    assert v["queries.construct_s"] == 1.0 and v["spark.tasks"] == 8
    assert v["driver.heap_peak_gib"] == 2.0
    assert abs(v["spark.core_busy_frac"] - 4.0 / (4 * 2.0)) < 1e-12
    assert abs(v["trace.overhead_s"] - 0.2) < 1e-12
    assert abs(v["trace.phase_gap_frac_max"] - 0.05 / 0.95) < 1e-12
    assert abs(v["trace.pass_gap_frac"] - (2.0 - 1.8) / 2.0) < 1e-12
    assert sorted(m) == sorted(listed("per_layer")), "reports exactly BENCHMARK.json's list"
    setup = {"type": "setup", "setup_s": 5.0, "session_s": 3.0, "warmup_s": 2.0}
    end = {"type": "end", "peak_rss_mib": 2000.0}
    e2e, _ = run.end_to_end([setup, end] + recs, {"a": {"rows": 3, "digest": "d"}})
    assert sorted(e2e) == sorted(listed("end_to_end"))


def listed(kind):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return [x["name"] for x in json.load(f)[kind]]


def test_seeded_orders():
    names = ["q%d" % i for i in range(30)]
    a = run.plan_orders(names, "w", 7, 3)
    assert a == run.plan_orders(names, "w", 7, 3), "same seed, same order"
    assert a != run.plan_orders(names, "w", 8, 3), "another seed, another order"
    assert all(sorted(o) == sorted(names) for o in a)


def jvm_digest():
    run.check_checkout()
    classpath = run.ensure_build()
    work = os.path.join(run.BUILD, "work-selftest")
    code = run.java(classpath, ["selftest", "work=" + work], time.time() + 170)
    assert code == 0, "JVM digest self-test failed (code %s)" % code


def main():
    tests = [test_latency_quantiles, test_harrell_davis, test_failure_accounting, test_output_check,
             test_module_attribution, test_per_layer, test_seeded_orders, jvm_digest]
    for t in tests:
        t()
        print("ok", t.__name__, file=sys.stderr)
    print("selftest passed")
