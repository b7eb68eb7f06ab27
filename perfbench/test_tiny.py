#!/usr/bin/env python3
"""The benchmark's own test: every workload at tiny size, untraced and
traced. Each run must check its outputs clean (fail_ratio 0) and print
every metric it names, with its unit; BENCHMARK.json must declare the
same metrics as run.py.

    python3 perfbench/test_tiny.py        (or: pytest perfbench/test_tiny.py)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

NAMED = {"sync": ["job_p50_s", "job_tail_s", "rows_per_s"],
         "query": ["suite_p50_s", "suite_tail_s", "query_geomean_s"]}
COMMON = ["setup_s", "fail_ratio", "heap_peak_mb", "heap_retained_mb"]


def _run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def _check(workload, trace):
    record, last = _run(workload, trace)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {n: m["unit"] for n, m in last["metrics"].items()} == want
    assert all(isinstance(m["value"], float) for m in last["metrics"].values())
    kind = "sync" if workload.startswith("sync") else "query"
    named = record["metrics"]
    assert sorted(named) == sorted(NAMED[kind] + COMMON)
    assert all(m["unit"] for m in named.values())
    assert named["fail_ratio"]["value"] == 0.0
    if trace:
        layers = record["layers"]
        assert "trace.overhead_s" in layers
        own = ([n for n in run.PER_LAYER if n.split(".")[0] in
                ("source", "dedup", "transform", "sink")] if kind == "sync"
               else ["SparkEntry.build_s"])
        assert all(n in layers for n in own + ["engine.jobs"]), layers
        if workload == "llm_dedup":
            assert all(f"functions.{f}.ns_per_row" in layers
                       for f in run.KERNELS), layers


def test_benchmark_json_matches_run_py():
    bench = json.load(open(os.path.join(os.path.dirname(HERE),
                                        "BENCHMARK.json")))
    assert [w["name"] for w in bench["workloads"]] == run.LISTED_WORKLOADS
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_build_is_keyed_on_sources():
    """The cached build is reused only while the sources it was built
    from are unchanged."""
    run.build()
    stored = open(os.path.join(HERE, "target", "sources.sha1")).read()
    assert stored == run.sources_hash()


def test_sync_backfill():
    _check("sync_backfill", 0)
    _check("sync_backfill", 1)


def test_sync_nightly():
    _check("sync_nightly", 0)
    _check("sync_nightly", 1)


def test_martech_analytics():
    _check("martech_analytics", 0)
    _check("martech_analytics", 1)


def test_llm_dedup():
    _check("llm_dedup", 0)
    _check("llm_dedup", 1)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name, flush=True)
