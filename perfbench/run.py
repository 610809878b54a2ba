#!/usr/bin/env python3
"""Benchmark of the linkage pipeline through its public entry, graft.Pipeline.run.

    python3 perfbench/run.py --workload flagship --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The script builds the library and the
benchmark's JVM side (perfbench/build.sbt) once per source state,
generates the workload's `orders` input from the seed, starts one JVM
with a `local[<cores>]` Spark session, and prints one JSON object as
the last line of standard output.

--trace 0 measures jobs back to back (closed loop, one client) and
prints the end-to-end metrics. --trace 1 makes a separate traced run
that calls each layer from here inside a span and prints the per-layer
metrics. README.md in this directory says why each workload exists.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build"
DEADLINE_S = 170          # every run ends within this, the build aside
HEAP = "3g"

# Synth.records: a row is on side A iff k % 17 != 5 and on side B iff
# k % 19 != 7; the block key is c0 for every customer with ck % 100 == 0
# and c<ck> otherwise; split "test" is k % 10 >= 8. Blocking salts a key
# once its A side reaches 500 rows.
HOT_THRESHOLD = 500

# Inputs, all drawn from the seed. Every customer gets a fixed number of
# orders, so a seed moves which orders meet in a block and what they
# say, but barely the amount of work.
#  flagship: 2,000 customers; the 20 with ck % 100 == 0 get 28 orders
#    each and share block c0, whose ~527 A rows cross the salting
#    threshold and hold ~61% of the ~457k pairs (58.9% on sf0.1).
#  ckpt_resume: slices of 1,500 customers (15 hot ones) with 10 orders
#    each, ~152k pairs; c0 has ~141 A rows, so salting stays off.
WORKLOADS = {
    "flagship": dict(customers=2000, orders=10, hot_orders=28,
                     key_space=None, slices=1, ckpt=False),
    "ckpt_resume": dict(customers=1500, orders=10, hot_orders=10,
                        key_space=15000, slices=4, ckpt=True),
}
WARM = dict(customers=200, orders=10, hot_orders=10, key_space=2000)

STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- inputs

def make_orders(rng, customers, orders, hot_orders, key_space=None):
    """TPC-H-shaped `orders` rows. With `key_space`, the customers are a
    seeded slice of key_space customer keys (a hundredth of them hot)."""
    if key_space is None:
        ck = np.arange(customers, dtype=np.int64)
    else:
        hot = np.arange(0, key_space, 100)
        cold = np.setdiff1d(np.arange(key_space), hot)
        n_hot = customers // 100
        ck = np.concatenate([rng.choice(hot, n_hot, replace=False),
                             rng.choice(cold, customers - n_hot, replace=False)])
    per = np.where(ck % 100 == 0, hot_orders, orders)
    custkey = rng.permutation(np.repeat(ck, per))
    n = len(custkey)
    if key_space is None:
        orderkey = np.arange(n, dtype=np.int64)
    else:
        orderkey = np.sort(rng.choice(key_space * orders, n, replace=False))
    rows = {
        "o_orderkey": orderkey,
        "o_custkey": custkey,
        "o_orderstatus": STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderpriority": PRIORITY[rng.integers(0, 5, n)],
    }
    order = rng.permutation(n)  # seeded row order
    return {c: v[order] for c, v in rows.items()}


def write_orders(d, rows):
    d.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(rows), d / "orders.parquet")


def expected(rows):
    """What any correct run must report, counted without Spark."""
    k, ck = rows["o_orderkey"], rows["o_custkey"]
    a, b = k % 17 != 5, k % 19 != 7
    key = np.where(ck % 100 == 0, -1, ck)
    keys, inv = np.unique(key, return_inverse=True)
    na = np.bincount(inv, weights=a, minlength=len(keys))
    nb = np.bincount(inv, weights=b, minlength=len(keys))
    return {
        "n_records": int(a.sum() + b.sum()),
        "n_candidate_pairs": int((na * nb).sum()),
        "test_true_pairs": int((a & b & (k % 10 >= 8)).sum()),
        "hot_keys": int((na >= HOT_THRESHOLD).sum()),
    }


def make_inputs(workload, seed, run_dir):
    spec = WORKLOADS[workload]
    params = {x: spec[x] for x in ("customers", "orders", "hot_orders", "key_space")}
    inputs = []
    for i in range(spec["slices"]):
        rng = np.random.default_rng([seed, i])
        rows = make_orders(rng, **params)
        d = run_dir / f"in{i}"
        write_orders(d, rows)
        inputs.append((str(d), expected(rows)))
    warm = run_dir / "warm"
    rows = make_orders(np.random.default_rng([seed, 1000]), **WARM)
    write_orders(warm, rows)
    return inputs, (str(warm), expected(rows))


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    stamp_file, cp_file = WORK / "stamp", WORK / "classpath"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "build.log", "w") as log:
        p = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=log, text=True,
                           timeout=800)
    lines = [l for l in p.stdout.splitlines() if "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}); see {WORK / 'build.log'}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classpath, args, run_dir, timeout):
    out = run_dir / "result.json"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--t0-ms", str(int(time.time() * 1000)), "--work", str(run_dir),
            "--out", str(out)] + args
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None, "timed out"
    if code != 0 or not out.exists():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        return None, f"exit {code}: {tail}"
    return json.loads(out.read_text()), None


# ---------------------------------------------------------------- checks

def check_summary(s, exp, f1_band=True):
    """Problems with one Pipeline.run summary row, given the counts the
    input implies. The warm input is too small for the F1 band: its
    test split may hold no false negative at all."""
    bad = []
    for key in ("n_records", "n_candidate_pairs"):
        if s.get(key) != exp[key]:
            bad.append(f"{key} {s.get(key)} != {exp[key]}")
    if s.get("tp", 0) + s.get("fn", 0) != exp["test_true_pairs"]:
        bad.append(f"tp+fn {s.get('tp', 0) + s.get('fn', 0)} != {exp['test_true_pairs']}")
    if f1_band and not 0.99 <= s.get("test_f1", 0) < 1.0:
        bad.append(f"test_f1 {s.get('test_f1')} outside [0.99, 1)")
    if not 0.0 < s.get("theta", 0) < 1.0:
        bad.append(f"theta {s.get('theta')} outside (0, 1)")
    if not 0 < s.get("n_clusters", 0) <= s.get("n_records", 0):
        bad.append(f"n_clusters {s.get('n_clusters')} not in (0, n_records]")
    return bad


def check_job(job, exp, first_by_dir):
    if "error" in job:
        return [job["error"]]
    bad = check_summary(job["summary"], exp)
    if "resume_summary" in job and job["resume_summary"] != job["summary"]:
        bad.append("resumed summary differs from the cold one")
    first = first_by_dir.setdefault(job["dir"], job["summary"])
    if first != job["summary"]:
        bad.append("summary differs from an earlier job on the same input")
    return bad


# ---------------------------------------------------------------- metrics

def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res, inputs):
    exp = dict(inputs)
    jobs = res["jobs"]
    failures, first = [], {}
    for j in jobs:
        bad = check_job(j, exp[j["dir"]], first)
        if bad:
            failures.append(bad)
            print(f"job on {Path(j['dir']).name} failed: {'; '.join(bad)}", file=sys.stderr)
    ok = [j for j in jobs if "error" not in j]
    walls = [j["wall_s"] + j.get("resume_s", 0.0) for j in ok]
    metrics = {}
    if walls:
        p50 = statistics.median(walls)
        pairs = statistics.median(j["summary"]["n_candidate_pairs"] for j in ok)
        metrics = {
            "setup_s": metric(res["setup_s"], "s"),
            "job_p50_s": metric(p50, "s"),
            "pairs_per_s": metric(pairs / p50, "pairs/s"),
            "cached_mb": metric(statistics.median(j["cached_bytes"] for j in ok) / 2**20, "MB"),
        }
    # a checkpointed job's wall is shown as cold + resumed
    parts = [f"{j['wall_s']:.2f}" + (f"+{j['resume_s']:.2f}" if "resume_s" in j else "")
             for j in ok]
    print(f"{len(jobs)} jobs in {res['measured_s']:.1f} s; job walls (s): "
          + ", ".join(parts)
          + f"; set-up {res['setup_s']:.2f} s (session {res['session_s']:.2f} s,"
          f" warm job {res['warm_s']:.2f} s)", file=sys.stderr)
    return len(jobs), len(failures), metrics


SPANS = ["Synth", "Blocking", "Scorer", "Threshold", "Cluster", "Metrics", "Checkpoint"]


def per_layer(res, inputs, cores):
    exp = inputs[0][1]
    ref = res["untraced"]
    bad = check_job(ref, exp, {})
    if bad:
        print(f"untraced job failed: {'; '.join(bad)}", file=sys.stderr)
        return 1, 1, {}
    if res["traced_summary"] != ref["summary"]:
        bad.append(f"traced summary {res['traced_summary']} != Pipeline.run's {ref['summary']}")
    sig = res["signals"]
    if sig["hot_keys"] != exp["hot_keys"] or sig["pairs"] != exp["n_candidate_pairs"]:
        bad.append(f"signals {sig} disagree with the input counts {exp}")
    for b in bad:
        print(f"traced run failed: {b}", file=sys.stderr)

    wall = res["traced_wall_s"]
    spans = {s["name"]: s for s in res["spans"]}
    m = {}
    for name in SPANS:
        s = spans.get(name, {})
        w, t = s.get("wall_s", 0.0), s.get("task_s", 0.0)
        m[f"{name}.wall_s"] = metric(w, "s")
        m[f"{name}.share"] = metric(w / wall, "ratio")
        m[f"{name}.task_s"] = metric(t, "s")
        m[f"{name}.util"] = metric(t / (w * cores) if w > 0 else 0.0, "ratio")
        m[f"{name}.jobs"] = metric(s.get("jobs", 0), "count")
        m[f"{name}.tasks"] = metric(s.get("tasks", 0), "count")
        m[f"{name}.shuffle_mb"] = metric(s.get("shuffle_bytes", 0) / 2**20, "MB")
        m[f"{name}.spill_mb"] = metric(s.get("spill_bytes", 0) / 2**20, "MB")
        m[f"{name}.gc_s"] = metric(s.get("gc_s", 0.0), "s")
    pairs = sig["pairs"]
    ck, k = res["ckpt"], res["kernels"]
    m.update({
        "Blocking.pairs": metric(pairs, "count"),
        "Blocking.reduction_ratio": metric(sig["reduction_ratio"], "ratio"),
        "Blocking.pair_completeness": metric(sig["pair_completeness"], "ratio"),
        "Blocking.max_block_share": metric(sig["max_block_share"], "ratio"),
        "Blocking.hot_keys": metric(sig["hot_keys"], "count"),
        "Scorer.ns_per_pair": metric(spans["Scorer"]["task_s"] * 1e9 / pairs, "ns"),
        "Scorer.exact_ratio": metric(sig["exact_ratio"], "ratio"),
        "Threshold.buckets": metric(sig["buckets"], "count"),
        "Cluster.edges": metric(sig["edges"], "count"),
        "Cluster.max_component": metric(sig["max_component"], "count"),
        "Checkpoint.write_s": metric(ck["write_s"], "s"),
        "Checkpoint.read_s": metric(ck["read_s"], "s"),
        "Checkpoint.mb": metric(ref.get("ckpt_bytes", 0) / 2**20, "MB"),
        "Checkpoint.resume_s": metric(ref.get("resume_s", 0.0), "s"),
        "StringSim.jw_ns": metric(k["jw_ns"], "ns"),
        "StringSim.lev_ns": metric(k["lev_ns"], "ns"),
        "Embed.vector_ns": metric(k["vector_ns"], "ns"),
        "Embed.cosine_ns": metric(k["cosine_ns"], "ns"),
        "setup.session_s": metric(res["session_s"], "s"),
        "setup.warm_s": metric(res["warm_s"], "s"),
        "trace.wall_s": metric(wall, "s"),
        "trace.unaccounted_s": metric(wall - sum(s["wall_s"] for s in res["spans"]), "s"),
        "trace.overhead_s": metric(wall - ref["wall_s"], "s"),
    })
    return 2, (1 if bad else 0), m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/Pipeline.scala"):
        if not (ROOT / need).is_file():
            fail(f"{need} not found: run from the root of a full checkout")
    classpath = build()

    started = time.monotonic()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        inputs, warm = make_inputs(args.workload, args.seed, run_dir)
        cores = os.cpu_count()
        jvm_args = ["--mode", "trace" if args.trace else "run",
                    "--cores", str(cores), "--warm", warm[0],
                    "--inputs", ",".join(d for d, _ in inputs),
                    "--seconds", str(args.seconds), "--seed", str(args.seed)]
        if WORKLOADS[args.workload]["ckpt"]:
            jvm_args += ["--ckpt", str(run_dir / "ckpt")]
        res, err = run_jvm(classpath, jvm_args, run_dir,
                           DEADLINE_S - (time.monotonic() - started))
        if err:
            print(f"perfbench: JVM failed: {err}", file=sys.stderr)
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            sys.exit(1)
        bad_warm = check_summary(res["warm"]["summary"], warm[1], f1_band=False)
        if "resume_summary" in res["warm"] and res["warm"]["resume_summary"] != res["warm"]["summary"]:
            bad_warm.append("resumed summary differs from the cold one")
        if args.trace:
            attempted, failed, metrics = per_layer(res, inputs, cores)
        else:
            attempted, failed, metrics = end_to_end(res, inputs)
        if bad_warm:
            print(f"warm job failed: {'; '.join(bad_warm)}", file=sys.stderr)
            failed += 1
            attempted += 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, v in metrics.items():
        print(f"{name:32s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
