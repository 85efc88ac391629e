#!/usr/bin/env python3
"""The repository benchmark: registry workloads timed end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload estimators --seed 1 --seconds 32 --trace 0

The first run builds the engine and the harness from source with sbt (into
.bench_build/ and the sbt target directories); later runs reuse the build
while the sources are unchanged. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything else goes to standard error. `--selftest` checks the reduction
code here and the JVM-side digest instead. perfbench/NOTES.md describes the
workloads, the metrics and how they were made steady.
"""
import argparse
import collections
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DATA = os.path.join(HERE, "data", "sf0.1")
TABLES = ["customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier"]
RUN_LIMIT_S = 170          # the whole run, build excluded
BUILD_LIMIT_S = 840        # the first run of a checkout also builds
QUERY_TIMEOUT_S = 60
# A run is a fixed amount of work: three passes over the workload's queries
# in one fresh process, the first of them cold. On a 4-core box they take
# about as long as BENCHMARK.json's run_seconds; --seconds does not stretch
# or cut them, so two commits are always measured on the same work.
PASSES = 3
# query_p50_s is the median of all the run's query latencies, query_tail_s
# this quantile of the warm passes' ones (perfbench/NOTES.md says why)
TAIL = 0.9
HEAP = "4g"
YOUNG = "1g"

# Java 17 module openings Spark needs outside spark-submit; the same list
# as the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# The modules whose jobs the per-layer metrics report: the engine packages
# that launch jobs in some workload's subset, and `exec`, the harness's
# full-output execution. The other packages launch none in any subset
# (perfbench/NOTES.md says why), and planning launches none; a job charged
# to one of them still carries its module in the span file.
MODULES = ["clustering", "core", "decomposition", "markov", "markov.hmm",
           "operators", "queries", "similarity", "sources", "streaming", "text", "util",
           "exec"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# --------------------------------------------------------------- reductions

def _beta_cdf(a, b, x, steps=400):
    """Regularized incomplete beta I_x(a, b) for a, b > 1 (Simpson's rule)."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    log_norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def f(t):
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_norm) if 0 < t < 1 else 0.0
    h = x / steps
    return h / 3 * (f(x) + sum((4 if i % 2 else 2) * f(i * h) for i in range(1, steps)))


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-th quantile (0 < p < 1): a weighted
    mean of all order statistics, heaviest near rank p*n. With nine queries
    run three times, a plain sample quantile falls on whichever single
    execution the order put at its rank; this estimate moves less between
    seeds."""
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def check_output(rec, expected):
    """None when the query succeeded and its output matches, else why not."""
    if rec.get("error"):
        return rec["error"]
    exp = expected.get(rec["name"])
    if exp is None:
        return "no expected output stored"
    if rec["rows"] != exp["rows"] or rec["digest"] != exp["digest"]:
        return ("output mismatch: rows %s digest %s, expected rows %s digest %s"
                % (rec["rows"], rec["digest"], exp["rows"], exp["digest"]))
    return None


def account(queries, expected):
    """(attempted, failed, latencies of the queries that passed)."""
    lat, failed = [], 0
    for r in queries:
        if check_output(r, expected) is None:
            lat.append(r["latency_s"])
        else:
            failed += 1
    return len(queries), failed, lat


def module_of(call_site, phase, streaming):
    """The module a job is charged to: `streaming` when a structured-streaming
    micro-batch ran it (its call site is only where the stream was started),
    else the innermost engine package in its call site, else the phase that
    launched it (construction jobs to the query body, `queries`)."""
    if streaming:
        return "streaming"
    for line in call_site.splitlines():
        frame = line.strip().split("(")[0]
        if not frame.startswith("graft.") or frame.startswith("graft.perfbench."):
            continue
        pkg = []
        for seg in frame.split(".")[1:]:
            if not seg[:1].islower():
                break
            pkg.append(seg)
        return ".".join(pkg) or "queries"
    return {"plan": "plan", "exec": "exec"}.get(phase, "queries")


def phase_of(job, queries):
    """(query record, phase) whose interval holds the job's start."""
    t = job["start_ms"]
    for q in queries:
        if q["start_ms"] <= t <= q["end_ms"]:
            if t < q["construct_end_ms"]:
                return q, "construct"
            if t < q["plan_end_ms"]:
                return q, "plan"
            return q, "exec"
    return None, None


# ---------------------------------------------------------------- building

def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build():
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""),
                                "-Djava.io.tmpdir=" + tmp,
                                "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")])
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "-Dperfbench.classpathFile=" + cp_file, "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_LIMIT_S, start_new_session=True)
    if proc.returncode != 0:
        sys.exit("sbt build failed with code %d" % proc.returncode)
    with open(cp_file) as f:
        classpath = f.read().strip()
    train_archive(classpath)
    log("build took %.1f s" % (time.time() - t0))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def train_archive(classpath):
    """Dumps the classes that set-up and one query of each workload load
    into a class-data-sharing archive, which later runs map instead of
    loading and verifying those classes from the jars again."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    names = [min(w["queries"]) for w in load_json("workloads.json")["workloads"].values()]
    plan = os.path.join(BUILD, "plan-train.txt")
    out = os.path.join(BUILD, "records-train.jsonl")
    work = os.path.join(BUILD, "work-train")
    with open(plan, "w") as f:
        f.write(",".join(names) + "\n")
    code = java(classpath, ["run", "root=" + ROOT, "plan=" + plan, "out=" + out, "work=" + work,
                            "trace=0", "cores=%d" % cores(), "timeout=%d" % QUERY_TIMEOUT_S,
                            "launchMs=%d" % int(time.time() * 1000)], time.time() + BUILD_LIMIT_S,
                archive_out=ARCHIVE)
    shutil.rmtree(work, ignore_errors=True)
    for p in (plan, out):
        if os.path.exists(p):
            os.remove(p)
    if code != 0 or not os.path.exists(ARCHIVE):
        sys.exit("class-data-sharing training run failed (%s)" % code)


def java(classpath, args, deadline, archive_out=None):
    """Runs the harness JVM; its output goes to standard error. Kills the
    whole process group when the deadline passes. With archive_out the JVM
    writes the class-data-sharing archive at exit; otherwise it maps the
    archive when there is one."""
    tmp = os.path.join(BUILD, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    if archive_out:
        cds = ["-XX:ArchiveClassesAtExit=" + archive_out]
    elif os.path.exists(ARCHIVE):
        cds = ["-XX:SharedArchiveFile=" + ARCHIVE]
    else:
        cds = []
    # A fixed heap and young generation: with G1 sizing them adaptively the
    # resident-set high-water mark varied by 15-40% between runs, fixed it
    # repeats within 3%.
    heap = ["-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, "-XX:+UseG1GC"]
    cmd = (["java"] + heap + ["-Djava.io.tmpdir=" + tmp, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
           + cds + opens + ["-cp", classpath, "graft.perfbench.Harness"] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return code


def read_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# -------------------------------------------------------------- the metrics

def end_to_end(recs, expected):
    setup = next(r for r in recs if r["type"] == "setup")
    end = next(r for r in recs if r["type"] == "end")
    passes = [r for r in recs if r["type"] == "pass"]
    queries = [r for r in recs if r["type"] == "query"]
    attempted, failed, lat = account(queries, expected)
    walls = []
    for p in passes:
        _, _, pl = account([q for q in queries if q["pass"] == p["pass"]], expected)
        walls.append(sum(pl))
    # Pass times are means over the passes, the cold one included: its memo
    # fills are paid once per session whatever the order, a run-level
    # slow-down moves all passes alike, and the mean of three is steadier
    # than their median, which falls on whichever warm pass the JIT left
    # slower. The median is taken over every latency: it falls among the
    # warm ones, below most cold ones. The tail is taken over the warm passes
    # only: in the cold pass the seeded order decides which query pays a
    # shared memo fill or the first JIT of a code path, and at the tail
    # those cold latencies are the ones it would use.
    _, _, warm = account([q for q in queries if q["pass"] > 0], expected)
    metrics = {
        "wall_s": (statistics.mean(walls), "s"),
        # a run in which every query failed reports 0 and correct: false
        "query_p50_s": (hd_quantile(lat, 0.5) if lat else 0.0, "s"),
        "query_tail_s": (hd_quantile(warm, TAIL) if warm else 0.0, "s"),
        "cpu_s": (statistics.mean(p["cpu_s"] for p in passes), "s"),
        "setup_s": (setup["setup_s"], "s"),
        "peak_rss_mib": (end["peak_rss_mib"], "MiB"),
    }
    context = {"passes": len(passes), "query_tail_pct": round(TAIL * 100),
               "latency_samples": len(lat), "tail_samples": len(warm),
               "failed_frac": failed / attempted if attempted else 1.0,
               "host.steal_frac": statistics.median(p["steal_frac"] for p in passes),
               "query_max_s": max(lat, default=0.0),
               "pass_walls_s": walls, "session_s": setup["session_s"],
               "warmup_s": setup["warmup_s"]}
    return metrics, context


def per_layer(recs, n_cores):
    """The per-layer metrics of a traced run, summed over its traced passes
    (the cold first one and its memo-frame fills included). The last pass
    repeats the last traced pass's order untraced, as the overhead base."""
    passes = sorted((r for r in recs if r["type"] == "pass"), key=lambda p: p["pass"])
    traced = [p for p in passes if p["traced"]]
    tps = {p["pass"] for p in traced}
    queries = [r for r in recs if r["type"] == "query" and r["pass"] in tps]
    jobs = [r for r in recs if r["type"] == "job" and r["pass"] in tps]
    m = {}
    by_phase = {"construct": 0, "plan": 0, "exec": 0}
    mods = collections.defaultdict(lambda: [0, 0.0])
    unattributed = 0
    for j in jobs:
        q, phase = phase_of(j, queries)
        if q is None:
            unattributed += 1
            continue
        j["query"], j["phase"] = q["name"], phase
        j["module"] = module_of(j["call_site"], phase, j["streaming"])
        by_phase[phase] += 1
        mods[j["module"]][0] += 1
        mods[j["module"]][1] += max(0, j["end_ms"] - j["start_ms"]) / 1e3
    construct = sum(q["construct_s"] for q in queries)
    construct_cpu = sum(q["construct_cpu_s"] for q in queries)
    traced_wall = sum(p["wall_s"] for p in traced)
    m["queries.construct_s"] = (construct, "s")
    m["queries.construct_jobs"] = (by_phase["construct"], "count")
    m["queries.construct_cpu_s"] = (construct_cpu, "s")
    m["queries.construct_wait_s"] = (construct - construct_cpu, "s")
    m["plan.plan_s"] = (sum(q["plan_s"] for q in queries), "s")
    m["exec.exec_s"] = (sum(q["exec_s"] for q in queries), "s")
    for k in MODULES:
        m[k + ".jobs"] = (mods[k][0], "count")
        m[k + ".job_s"] = (mods[k][1], "s")

    def total(k):
        return sum(p[k] for p in traced)
    m["spark.jobs"] = (len(jobs), "count")
    m["spark.stages"] = (total("stages"), "count")
    m["spark.tasks"] = (total("tasks"), "count")
    m["spark.task_failures"] = (total("task_failures"), "count")
    m["spark.executor_run_s"] = (total("executor_run_s"), "s")
    m["spark.executor_cpu_s"] = (total("executor_cpu_s"), "s")
    m["spark.core_busy_frac"] = (total("executor_run_s") / (n_cores * traced_wall), "frac")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes"):
        m["spark." + k] = (total(k), "B")
    m["driver.result_bytes"] = (total("result_bytes"), "B")
    m["driver.heap_peak_gib"] = (max(p["heap_peak_gib"] for p in traced), "GiB")
    m["driver.gc_s"] = (total("gc_s"), "s")
    m["util.par.cpu_s"] = (total("par_cpu_s"), "s")
    m["host.steal_frac"] = (statistics.mean(p["steal_frac"] for p in traced), "frac")
    # the last traced pass against the untraced pass that repeats its order
    m["trace.wall_s"] = (traced[-1]["wall_s"], "s")
    m["trace.overhead_s"] = (traced[-1]["wall_s"] - passes[-1]["wall_s"], "s")
    # a second clock runs around each query's slot and each pass: the
    # share of either that the three phases leave uncovered
    phases = [q["construct_s"] + q["plan_s"] + q["exec_s"] for q in queries]
    m["trace.phase_gap_frac_max"] = (max((q["slot_s"] - ph) / q["slot_s"]
                                         for q, ph in zip(queries, phases)), "frac")
    m["trace.pass_gap_frac"] = ((traced_wall - sum(phases)) / traced_wall, "frac")
    m["trace.unattributed_jobs"] = (unattributed, "count")
    return m, queries, jobs


def write_spans(path, workload, seed, queries, jobs):
    """One span per run, traced pass, query, phase and job: name, start,
    end, parent."""
    spans = []

    def add(name, start, end, parent, **tags):
        spans.append({"id": len(spans), "parent": parent, "name": name,
                      "start_ms": start, "end_ms": end, **tags})
        return len(spans) - 1
    run = add("run", min(q["start_ms"] for q in queries), max(q["end_ms"] for q in queries), None,
              workload=workload, seed=seed)
    phase_ids = {}
    for p in sorted({q["pass"] for q in queries}):
        qs = [q for q in queries if q["pass"] == p]
        pid = add("pass %d" % p, min(q["start_ms"] for q in qs), max(q["end_ms"] for q in qs),
                  run, kind="pass")
        for q in qs:
            qid = add(q["name"], q["start_ms"], q["end_ms"], pid, kind="query",
                      error=q.get("error"))
            bounds = [("construct", q["start_ms"], q["construct_end_ms"]),
                      ("plan", q["construct_end_ms"], q["plan_end_ms"]),
                      ("exec", q["plan_end_ms"], q["end_ms"])]
            for ph, a, b in bounds:
                phase_ids[(p, q["name"], ph)] = add(ph, a, b, qid, kind="phase")
    for j in jobs:
        parent = phase_ids.get((j["pass"], j.get("query"), j.get("phase")), run)
        add("job %d" % j["id"], j["start_ms"], j["end_ms"], parent, kind="job",
            module=j.get("module"))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": spans}, f)


# --------------------------------------------------------------------- main

def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def plan_orders(names, workload, seed, passes):
    """The seeded query order of each pass."""
    orders = []
    for p in range(passes):
        o = list(names)
        random.Random("%s/%d/%d" % (workload, seed, p)).shuffle(o)
        orders.append(o)
    return orders


def check_checkout():
    need = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")]
    need += [os.path.join(DATA, t + ".parquet") for t in TABLES]
    missing = [os.path.relpath(p, ROOT) for p in need if not os.path.exists(p)]
    if missing:
        sys.exit("not a checkout of the engine: missing " + ", ".join(missing))
    if shutil.which("java") is None or shutil.which("sbt") is None:
        sys.exit("java and sbt must be on PATH")


def bench(args):
    check_checkout()
    wl = load_json("workloads.json")
    if args.workload not in wl["workloads"]:
        sys.exit("unknown workload %r (one of %s)" % (args.workload, ", ".join(wl["workloads"])))
    spec = wl["workloads"][args.workload]
    expected = load_json("reference.json")
    classpath = ensure_build()
    launch = time.time()
    deadline = launch + RUN_LIMIT_S
    os.makedirs(BUILD, exist_ok=True)
    tag = "%s-%d-%d" % (args.workload, args.seed, os.getpid())
    plan = os.path.join(BUILD, "plan-%s.txt" % tag)
    out = os.path.join(BUILD, "records-%s.jsonl" % tag)
    orders = plan_orders(spec["queries"], args.workload, args.seed, PASSES)
    if args.trace:
        orders.append(orders[-1])      # the untraced base pass
    with open(plan, "w") as f:
        for o in orders:
            f.write(",".join(o) + "\n")
    work = os.path.join(BUILD, "work-%d" % os.getpid())
    try:
        code = java(classpath, [
            "run", "root=" + ROOT, "plan=" + plan, "out=" + out, "work=" + work,
            "trace=%d" % args.trace, "cores=%d" % cores(), "timeout=%d" % QUERY_TIMEOUT_S,
            "launchMs=%d" % int(launch * 1000)], deadline)
        if code != 0:
            sys.exit("harness exited with %s" % ("a timeout" if code is None else "code %d" % code))
        recs = read_records(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for p in (plan, out):
            if os.path.exists(p):
                os.remove(p)
    n_cores = next(r for r in recs if r["type"] == "setup")["cores"]
    attempted, failed, _ = account([r for r in recs if r["type"] == "query"], expected)
    if args.trace:
        m, queries, jobs = per_layer(recs, n_cores)
        spans = os.path.join(BUILD, "trace", "%s-seed%d.json" % (args.workload, args.seed))
        write_spans(spans, args.workload, args.seed, queries, jobs)
        log("spans written to", os.path.relpath(spans, ROOT))
    else:
        m, context = end_to_end(recs, expected)
        log("context", json.dumps(context))
    for r in recs:
        if r["type"] == "query":
            why = check_output(r, expected)
            if why:
                log("FAILED", r["name"], "pass", r["pass"], why)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
    print(json.dumps(result, allow_nan=False))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=32)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import selftest
        selftest.main()
        return
    if not args.workload:
        ap.error("--workload is required")
    bench(args)


if __name__ == "__main__":
    main()
