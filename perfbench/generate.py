#!/usr/bin/env python3
"""Re-derive the benchmark's expected outputs and per-query reference timings.

    python3 perfbench/generate.py

Runs every registry query twice, in two fresh JVMs and in opposite orders,
on the benchmark's testdata, and writes perfbench/reference.json: each
query's family, row count, output digest, whether the digest repeated, the
result of the DuckDB cross-check, the first run's phase times, and the Spark
jobs it launched per engine module (each query runs in a fresh session, so
its memo-frame fills are its own). The cross-check runs the query's oracle
SQL (SparkEntry.oracleSql) in DuckDB and compares it with the Spark output
row by row, as tools/check_oracle.py does; an oracle that runs longer than ORACLE_TIMEOUT_S in DuckDB is recorded
as not cross-checked. `--reuse` redoes only the cross-check and the report
from the records of the last generation; `--select` redraws only the
workload subsets in perfbench/workloads.json from reference.json. Run it
only when the engine's outputs are meant to change; the benchmark then
checks every timed query against these values.
"""
import glob
import json
import multiprocessing
import os
import random
import sys
import time

import run

# The repository's oracle gate canonicalizes frames this way; its compare
# loop is inline in that script's main(), so _compare() below repeats it.
sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check_oracle import canon  # noqa: E402

OUT = os.path.join(run.HERE, "reference.json")
ORACLE_TIMEOUT_S = 60

# The workloads split the registry families; each times a fixed subset of
# its families, chosen by select() below.
FAMILIES = {
    "estimators": ["Core", "Decomposition", "Markov", "MarkovBatteries"],
    "corpus": ["Text", "Dedup", "Similarity", "Multimodal"],
    "pipeline_io": ["Event", "Pipeline", "Streaming"],
}
SUBSET_SEED = 20261017
SUBSET_SIZE = 9         # queries in one pass of a subset
# Reference seconds of one pass of a subset, set so that a run takes
# 35-40 s on a 4-core box. Reference times come from a fresh session per
# query, so each estimator query pays its own memo-frame fills; in a run
# the subset shares them, which is why the estimators budget is the largest.
SUBSET_BUDGET_S = {"estimators": 11.0, "corpus": 10.0, "pipeline_io": 7.0}
SHARE_TOLERANCE = 0.05  # construction and execution shares vs the families'
# Engine modules each subset must launch at least one Spark job from, so
# that every module the per-layer metrics report is measured on the
# workload it should move on. `lag` and `io` launch no job in any registry
# query (their frames are lazy). `agg` launches jobs only in q62_vamp_cv and
# `dedup` only in q76_dup_clusters and q104_dedup_keep_best; each of those
# takes 4-9 s in a cold pass, and a subset holding one ran about 50 s, too
# long for the run length, so they are not covered either.
COVERS = {
    "estimators": ["core", "markov", "markov.hmm", "decomposition", "clustering"],
    "corpus": ["text", "similarity", "util"],
    "pipeline_io": ["streaming", "sources", "operators"],
}


def generate(classpath, names, out, dump):
    code = run.java(classpath, [
        "generate", "root=" + run.ROOT, "out=" + out, "names=" + ",".join(names),
        "dump=" + dump, "work=" + os.path.join(run.BUILD, "work-gen"),
        "cores=%d" % run.cores(), "timeout=600"], time.time() + 7200)
    if code != 0:
        sys.exit("generate exited with %s" % code)
    return run.read_records(out)


def _compare(name, sql, dump, conn):
    import duckdb
    import pandas as pd
    files = glob.glob(os.path.join(dump, name, "*.parquet"))
    if not files:
        conn.send("no Spark output")
        return
    con = duckdb.connect()
    for t in run.TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, os.path.join(run.DATA, t + ".parquet")))
    a = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
    try:
        b = canon(con.sql(sql).df())
    except Exception as e:  # noqa: BLE001 - reported, not raised
        conn.send("oracle SQL error: %s" % e)
        return
    if list(a.columns) != list(b.columns):
        conn.send("schema mismatch")
        return
    if len(a) != len(b):
        conn.send("row count mismatch spark=%d duckdb=%d" % (len(a), len(b)))
        return
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            eq = (av.fillna("__NULL__") == bv.fillna("__NULL__")) if av.dtype == object \
                else ((av == bv) | (av.isna() & bv.isna()))
        except Exception:  # noqa: BLE001 - incomparable dtypes fall back to text
            eq = av.astype(str) == bv.astype(str)
        if not eq.all():
            conn.send("value mismatch in column %s (%d rows)" % (c, int((~eq).sum())))
            return
    conn.send("match")


def cross_check(name, sql, dump):
    """The oracle compare in a child process, killed after ORACLE_TIMEOUT_S."""
    parent, child = multiprocessing.Pipe(duplex=False)
    proc = multiprocessing.Process(target=_compare, args=(name, sql, dump, child))
    proc.start()
    got = parent.poll(ORACLE_TIMEOUT_S)
    result = parent.recv() if got else "not cross-checked: DuckDB over %d s" % ORACLE_TIMEOUT_S
    proc.kill()
    proc.join()
    return result


def shares(rows):
    total = sum(r["construct_s"] + r["plan_s"] + r["exec_s"] for r in rows)
    return (total, sum(r["construct_s"] for r in rows) / total,
            sum(r["exec_s"] for r in rows) / total)


def job_modules(records):
    """Per query, the number of Spark jobs it launched from each module."""
    queries = [r for r in records if r["type"] == "query"]
    mods = {q["name"]: {} for q in queries}
    for j in (r for r in records if r["type"] == "job"):
        q, phase = run.phase_of(j, queries)
        if q is not None:
            m = run.module_of(j["call_site"], phase, j["streaming"])
            mods[q["name"]][m] = mods[q["name"]].get(m, 0) + 1
    return mods


def select(ref, families, workload):
    """A seeded subset of the families' queries. A draw first takes, for
    each module COVERS names that the draw does not launch jobs from yet,
    one query that does; then each family is topped up to its share of
    SUBSET_SIZE queries (at least one). The draw is kept when its reference
    time is within 15% of the workload's SUBSET_BUDGET_S and its construction and
    execution shares are within SHARE_TOLERANCE of the families' own. Only
    queries whose output repeated and did not disagree with its DuckDB
    oracle are drawn. The first draw kept is the subset, so it depends
    only on reference.json and SUBSET_SEED."""
    fam = [r for r in ref.values() if r["family"] in families]
    _, c_all, e_all = shares(fam)
    usable = sorted(n for n, r in ref.items() if r["family"] in families and not r["error"]
                    and r["digest_repeats"] and (r["oracle"] == "match"
                                                 or r["oracle"].startswith("not cross")))
    quota = {f: max(1, round(SUBSET_SIZE * sum(r["family"] == f for r in fam) / len(fam)))
             for f in families}
    for k in range(200000):
        rng = random.Random("%s/%d/%d" % (workload, SUBSET_SEED, k))
        pick = []
        for mod in COVERS[workload]:
            if not any(mod in ref[n]["modules"] for n in pick):
                covering = [n for n in usable if mod in ref[n]["modules"]]
                if not covering:
                    sys.exit("no usable %s query launches a job from %s" % (workload, mod))
                pick.append(rng.choice(covering))
        for f in families:
            rest = [n for n in usable if ref[n]["family"] == f and n not in pick]
            have = sum(ref[n]["family"] == f for n in pick)
            pick += rng.sample(rest, max(0, quota[f] - have))
        total, c, e = shares([ref[n] for n in pick])
        budget = SUBSET_BUDGET_S[workload]
        if (abs(total - budget) <= 0.15 * budget
                and abs(c - c_all) <= SHARE_TOLERANCE and abs(e - e_all) <= SHARE_TOLERANCE):
            return sorted(pick), {"draw": k, "reference_s": round(total, 3),
                                  "construct_share": round(c, 3), "exec_share": round(e, 3),
                                  "families_construct_share": round(c_all, 3),
                                  "families_exec_share": round(e_all, 3)}
    sys.exit("no subset of %s meets the budget and shares" % workload)


def write_workloads(ref):
    """Rewrites the query lists and selection records of workloads.json,
    keeping each workload's stated reason."""
    path = os.path.join(run.HERE, "workloads.json")
    with open(path) as f:
        wl = json.load(f)
    for w, fams in FAMILIES.items():
        queries, how = select(ref, fams, w)
        wl["workloads"][w].update({"families": fams, "queries": queries, "selection": how})
    with open(path, "w") as f:
        json.dump(wl, f, indent=1)
        f.write("\n")


def main():
    if "--select" in sys.argv[1:]:
        with open(OUT) as f:
            write_workloads(json.load(f))
        return
    run.check_checkout()
    gen = os.path.join(run.BUILD, "generate")
    dump = os.path.join(gen, "outputs")
    first_out, second_out = os.path.join(gen, "first.jsonl"), os.path.join(gen, "second.jsonl")
    if "--reuse" in sys.argv[1:]:
        first, second = run.read_records(first_out), run.read_records(second_out)
    else:
        classpath = run.ensure_build()
        os.makedirs(gen, exist_ok=True)
        first = generate(classpath, [], first_out, dump)
        names = sorted(r["name"] for r in first if r["type"] == "query")
        second = generate(classpath, names[::-1], second_out, "")
    q1 = {r["name"]: r for r in first if r["type"] == "query"}
    oracle = {r["name"]: r["sql"] for r in first if r["type"] == "oracle"}
    q2 = {r["name"]: r for r in second if r["type"] == "query"}
    mods = job_modules(first)
    ref = {}
    for name in sorted(q1):
        print("cross-checking", name, file=sys.stderr, flush=True)
        a, b = q1[name], q2.get(name, {})
        ref[name] = {
            "family": a["family"], "rows": a["rows"], "digest": a["digest"],
            "error": a.get("error") or b.get("error"),
            "digest_repeats": a["digest"] == b.get("digest") and a["rows"] == b.get("rows"),
            "oracle": cross_check(name, oracle[name], dump) if name in oracle else "none",
            "construct_s": round(a["construct_s"], 3), "plan_s": round(a["plan_s"], 3),
            "exec_s": round(a["exec_s"], 3), "modules": mods[name]}
    with open(OUT, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    bad = {n: r for n, r in ref.items() if r["error"] or not r["digest_repeats"]
           or r["oracle"] not in ("match", "none") and not r["oracle"].startswith("not cross")}
    for n, r in sorted(bad.items()):
        print("%s: error=%s repeats=%s oracle=%s" % (n, r["error"], r["digest_repeats"], r["oracle"]))
    print("%d queries, %d oracle matches, %d flagged; wrote %s"
          % (len(ref), sum(r["oracle"] == "match" for r in ref.values()), len(bad),
             os.path.relpath(OUT, run.ROOT)))


if __name__ == "__main__":
    main()
