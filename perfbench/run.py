#!/usr/bin/env python3
"""Benchmark of the profile-sync jobs and the query suites.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all          # every workload, every metric

Run from the repository root. The first run builds the harness and the
program from source (sbt, offline) into perfbench/target. Each run
generates its inputs from the seed (gen.py), runs one JVM with the
harness (one client, one job or query at a time, Spark local[k]),
checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"} — end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The line before it is the
run record: traffic properties, host facts, Spark settings, and every
named metric of the workload with its unit.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from check import check_queries  # noqa: E402

WORKLOADS = {
    "sync_backfill": "CleverTap JSON POST egress, first run with no bookmark",
    "sync_nightly": "Netcore CSV staging, one night's delta past a bookmark",
    "martech_analytics": "marketing-analytics queries, no native kernel",
    "llm_dedup": "near-duplicate and linkage queries on native kernels",
}
# The workloads BENCHMARK.json lists. Every run pays 30-40 s of input
# generation, JVM and Spark start, priming and warm-up before an 18 s
# window, and a benchmark round repeats each listed workload 22 times in
# under an hour, so it lists two: one sync job and the kernel suite. The
# other two stay runnable and tested (test_tiny.py, --workload all).
LISTED_WORKLOADS = ["sync_backfill", "llm_dedup"]
QUERIES = {
    "martech_analytics": ["q21_latest_change_per_key", "q22_changefeed_since",
                          "q118_funnel", "q176_markov_attribution"],
    "llm_dedup": ["q40_minhash_neardups", "q99_simhash_banded",
                  "q126_editdist_join", "q163_record_linkage"],
}
NPROC = len(os.sched_getaffinity(0))
STUB_SERVICE_MS = 2
KERNEL_ROWS = {"full": 100000, "tiny": 5000}
HEAP = "2g"

# Spark session settings: Verify's, plus the retention limits that keep
# repeated passes in one JVM steady, plus where Spark may write.
def session(k, work):
    return {
        "spark.master": (f"local[{k}]", "Verify's local[k]; k = nproc - 1 "
                         "(at most 4) leaves a core to the JIT, the collector "
                         "and the stub"),
        "spark.sql.shuffle.partitions": (str(k), "Verify"),
        "spark.sql.session.timeZone": ("UTC", "Verify"),
        "spark.ui.enabled": ("false", "Verify"),
        "spark.sql.ui.retainedExecutions": (
            "4", "retention: execution history with plan strings drags "
                 "later passes"),
        "spark.ui.retainedJobs": ("50", "retention: status-store growth"),
        "spark.ui.retainedStages": ("50", "retention: status-store growth"),
        "spark.ui.retainedTasks": ("500", "retention: status-store growth"),
        "spark.local.dir": (f"{work}/spark-local",
                            "shuffle files stay inside the checkout"),
        "spark.sql.warehouse.dir": (f"{work}/warehouse",
                                    "stays inside the checkout"),
    }


# name -> unit; BENCHMARK.json mirrors these lists
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "heap_retained_mb": "MB"}
KERNELS = ["deletion_neighborhood", "levenshtein_banded", "minhash_sig",
           "shingle_hashes", "simhash64", "sorted_intersect_size"]
PER_LAYER = {
    "source.bookmark_lookup_s": "s", "source.bookmark_upsert_s": "s",
    "source.scan_s": "s", "source.files_read": "count",
    "source.rows_scanned": "count", "source.useful_ratio": "ratio",
    "dedup.latest_s": "s", "dedup.rows_in": "count", "dedup.rows_out": "count",
    "dedup.shuffle_bytes": "bytes", "dedup.spill_bytes": "bytes",
    "dedup.task_skew": "ratio",
    "transform.sanity_s": "s", "transform.invalid_rows": "count",
    "sink.egress_s": "s", "sink.posts": "count", "sink.bytes_out": "bytes",
    "sink.wait_s": "s", "sink.stub_busy_s": "s", "sink.inflight_max": "count",
    "sink.results_s": "s", "sink.staged_files": "count",
    "sink.failed_batches": "count", "sink.retries": "count",
    "SparkEntry.build_s": "s",
    "engine.plan_s": "s", "engine.exec_s": "s", "engine.jobs": "count",
    "engine.stages": "count", "engine.tasks": "count",
    "engine.shuffle_bytes": "bytes", "engine.spill_bytes": "bytes",
    "engine.peak_exec_mem_bytes": "bytes", "engine.sched_delay_s": "s",
    "engine.busy_ratio": "ratio",
    **{f"functions.{f}.ns_per_row": "ns/row" for f in KERNELS},
    "trace.overhead_s": "s",
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


BUILD_INPUTS = [os.path.join(REPO, "src", "main", "scala"),
                os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]


def sources_hash():
    """sha1 over every file the build compiles or reads, with its path."""
    h = hashlib.sha1()
    for top in BUILD_INPUTS:
        walk = ([(os.path.dirname(top), [], [os.path.basename(top)])]
                if os.path.isfile(top) else sorted(os.walk(top)))
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, REPO).encode() + b"\0")
                h.update(open(path, "rb").read())
    return h.hexdigest()


def build():
    """Compiles harness + program into perfbench/target when the sources
    differ from the last build's (sources.sha1 beside classpath.txt).
    Returns the classpath and whether this call built."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    hash_file = os.path.join(target, "sources.sha1")
    want = sources_hash()
    if (os.path.exists(cp_file) and os.path.exists(hash_file)
            and open(hash_file).read().strip() == want):
        return open(cp_file).read().strip(), False
    for f in (cp_file, hash_file):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(hash_file, "w") as f:
        f.write(want)
    return cp, True


def make_spec(w, seed, size, seconds, trace, work):
    """Generates the workload's inputs under `work`; writes its spec.
    Returns the spec path and, for a sync workload, the function that
    computes its expected delivery (None for the query suites)."""
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(out, "outputs"), exist_ok=True)
    spec = {"workload": w, "seconds": seconds, "trace": trace == 1,
            "out": out, "service_ms": STUB_SERVICE_MS,
            "kernel_rows": KERNEL_ROWS[size]}
    expected_fn = None
    if w in QUERIES:
        data = os.path.join(work, "data")
        gen.query_tables(data, seed, size)
        spec.update(data=data, queries=QUERIES[w])
    else:
        gspec, expected_fn = gen.sync_inputs(os.path.join(work, "data"),
                                             w, seed, size)
        spec.update(gspec)
    path = os.path.join(work, "spec.json")
    with open(path, "w") as f:
        json.dump(spec, f)
    return path, expected_fn


def run_jvm(cp, spec, work, timeout):
    """One harness JVM over the spec; returns (exit code, log)."""
    k = max(1, min(NPROC - 1, 4))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap: no resizing between repetitions
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + [f"-D{key}={v}" for key, (v, _) in session(k, work).items()]
           + ["-cp", cp, "perfbench.Harness", spec])
    # the program's bench-only switches never reach the measured JVM
    env = {key: val for key, val in os.environ.items()
           if not key.startswith("GRAFT_")}
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env,
                                timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    return rc, log_path


def source_id():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "src-sha1:" + sources_hash()


def traffic(workload, size):
    if workload in gen.SYNC[size]:
        p = dict(gen.SYNC[size][workload], **gen.SYNC_COMMON)
        p["payload_attributes"] = len(p.pop("attributes"))
        p["stub_service_ms"] = STUB_SERVICE_MS
        p["versions_per_key"] = ("zipf head ceil(hot_share*rows/rank) + "
                                 "geometric tail" if workload ==
                                 "sync_backfill" else "1 base + 1..3 per "
                                 "touched night")
        return p
    return dict(gen.QUERY_SCALE[size], queries=len(QUERIES[workload]))


def tail(walls):
    """Highest order statistic with at least ten samples above it."""
    s = sorted(walls)
    n = len(s)
    if n >= 11:
        return s[n - 11], round(100.0 * (n - 10) / n, 1), 10
    return s[-1], 100.0, 0


def run_one(args):
    if not os.path.exists(os.path.join(REPO, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("program sources not found next to perfbench/ — run from a "
             "full checkout")
    cp, built = build()
    # set-up starts at process start, or after the build when this run built
    start = time.time() if built else T0
    w = args.workload
    work = os.path.join(HERE, "work", f"{w}-{args.seed}-{os.getpid()}")
    spec_path, expected_fn = make_spec(w, args.seed, args.size,
                                       args.seconds, args.trace, work)
    spec = json.load(open(spec_path))
    out = spec["out"]
    gen_done = time.time()
    rc, log_path = run_jvm(cp, spec_path, work,
                           timeout=max(30, 170 - (time.time() - start)))
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(open(log_path).read()[-6000:])
        fail(f"harness exited with {rc}")
    res = json.load(open(res_path))
    setup_s = res["first_rep_epoch_ms"] / 1000.0 - start

    problems = []
    if w in QUERIES:
        ops = res["op_walls"]
        bad = check_queries(spec["data"], os.path.join(out, "outputs"),
                            QUERIES[w])
        problems += [f"oracle {q}: {why}" for q, why in bad]
        problems += [f"failed {f}" for f in res["failures"]]
        attempted = res["attempted"] + len(QUERIES[w])
        failed = len(bad) + len(res["failures"])
        meds = [statistics.median(v) for v in res["query_walls"].values() if v]
        named = {"suite_p50_s": ("s", statistics.median(ops)),
                 "suite_tail_s": ("s", tail(ops)[0]),
                 "query_geomean_s": ("s", math.exp(
                     sum(math.log(m) for m in meds) / len(meds)))}
        base = "query executions (priming, warm-up and timed passes)"
    else:
        expected = expected_fn()
        reps = [res["prime"]] + res["reps"]
        missing, dup, wrong = gen.check_ledger(
            os.path.join(out, "ledger.txt"), spec["platform"], expected)
        if missing or dup or wrong:
            problems.append(f"priming ledger: {missing} missing, {dup} "
                            f"duplicated, {wrong} wrong")
        n_exp = len(expected["rows"])
        failed = 1 if problems else 0
        first = res["prime"]
        for i, r in enumerate(reps):  # run 0 is the priming run
            why = []
            if r["ok"] != r["batches"]:
                why.append(f"{r['batches'] - r['ok']} non-ok batches")
            if r["valid"] != n_exp or r["records"] != n_exp:
                why.append(f"delivered {r['records']} of {n_exp} rows")
            if r["distinct"] != r["records"]:
                why.append(f"{r['records'] - r['distinct']} duplicated")
            if (r["records"], r["distinct"], r["digest"]) != (
                    first["records"], first["distinct"], first["digest"]):
                why.append("ledger differs from the checked priming run")
            if r["invalid"] != expected["invalid"]:
                why.append(f"invalid {r['invalid']} != {expected['invalid']}")
            if r["bookmark_us"] != expected["bookmark_us"]:
                why.append(f"bookmark {r['bookmark_us']} != "
                           f"{expected['bookmark_us']}")
            if why:
                failed += 1 if i or not failed else 0
                problems.append(f"run {i}: " + "; ".join(why))
        attempted = len(reps)
        ops = [r["wall"] for r in res["reps"] if not r["traced"]]
        named = {"job_p50_s": ("s", statistics.median(ops)),
                 "job_tail_s": ("s", tail(ops)[0]),
                 "rows_per_s": ("rows/s", n_exp * len(ops) / sum(ops))}
        base = "job runs (priming + timed repetitions)"
    _, tail_pct, beyond = tail(ops)
    e2e = {"setup_s": setup_s, "op_p50_s": statistics.median(ops),
           "heap_retained_mb": res["heap_retained_mb"]}
    named.update({"setup_s": ("s", setup_s),
                  "fail_ratio": ("ratio", failed / attempted),
                  "heap_peak_mb": ("MB", res["heap_peak_mb"]),
                  "heap_retained_mb": ("MB", res["heap_retained_mb"])})
    layers = res.get("layers") or {}
    record = {
        "workload": w, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "why": WORKLOADS[w],
        "traffic": traffic(w, args.size),
        "host": {"nproc": NPROC, "k": res["k"], "heap": HEAP,
                 "heap_max_mb": res["heap_max_mb"],
                 "spark": res["spark_version"], "jvm": res["jvm"],
                 "commit": source_id()},
        "spark_settings": {key: {"value": v, "why": why}
                           for key, (v, why) in session(res["k"], work).items()
                           if key not in ("spark.local.dir",
                                          "spark.sql.warehouse.dir")},
        "setup_parts_s": {
            "generate": round(gen_done - start, 3),
            "session": round(res["session_epoch_ms"] / 1000.0 - gen_done, 3),
            "prime": round((res["first_rep_epoch_ms"] - res["session_epoch_ms"])
                           / 1000.0, 3)},
        "samples": len(ops), "op_walls": [round(x, 4) for x in ops],
        "tail_percentile": tail_pct,
        "tail_samples_beyond": beyond,
        "fail_ratio_base": f"{failed}/{attempted} {base}",
        "problems": problems[:20],
        "metrics": {n: {"value": v, "unit": u} for n, (u, v) in named.items()},
    }
    if w in QUERIES:
        record["kernels_found"] = res["kernels_found"]
        record["prime_s"] = {q: round(v, 3) for q, v in res["prime_walls"].items()}
        record["query_p50_s"] = {q: round(statistics.median(v), 4)
                                 for q, v in res["query_walls"].items() if v}
    if args.trace == 1:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER.items()}
        record["layers"] = layers
        record["spans"] = os.path.relpath(
            os.path.join(HERE, "work", "records",
                         f"{w}-{args.seed}-spans.jsonl"), REPO)
    else:
        metrics = {n: {"value": e2e[n], "unit": u}
                   for n, u in END_TO_END.items()}
    keep = os.path.join(HERE, "work", "records")
    os.makedirs(keep, exist_ok=True)
    if os.path.exists(os.path.join(out, "spans.jsonl")):
        shutil.move(os.path.join(out, "spans.jsonl"),
                    os.path.join(keep, f"{w}-{args.seed}-spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def run_all(args):
    """Every workload in turn; prints each named metric with its unit."""
    rc = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace), "--size", args.size],
                capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                sys.stderr.write(p.stderr[-3000:])
                print(f"{w} trace={trace}: FAILED (exit {p.returncode})")
                rc = 1
                continue
            rec = json.loads(lines[-2])["record"]
            last = json.loads(lines[-1])
            shown = rec["metrics"] if trace == 0 else last["metrics"]
            print(f"== {w} trace={trace} correct={last['correct']} "
                  f"fail_ratio_base={rec['fail_ratio_base']}")
            for n, m in shown.items():
                print(f"  {n} = {m['value']:.6g} {m['unit']}")
            rc |= 0 if last["correct"] else 1
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args()
    sys.exit(run_all(args) if args.workload == "all" else run_one(args))


if __name__ == "__main__":
    main()
