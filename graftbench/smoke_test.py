#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs (sf0.001 tables,
a 3000-doc corpus): every workload, untraced and traced.

Asserts, per run:
  - the last stdout line is one unprefixed JSON object with exactly the
    keys correct/attempted/failed/metrics, and no failed operation;
  - it carries every BENCHMARK.json metric of its kind, with its unit;
  - the workload-specific end-to-end metrics reach the artifact;
  - traced: every job the listener saw carries the tag of the query
    whose window it started in, every stream trigger of the run starts
    and ends inside a stream query, and the named spans (builder,
    Catalyst phases, SQL executions, jobs) cover each workload's query
    wall time up to UNATTRIBUTED_MAX.

Usage (from the repository root): python3 graftbench/smoke_test.py
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# a bound on the share of traced query wall time under no recorded span
UNATTRIBUTED_MAX = 0.02
EXTRA = {"sf01_batch": {"query_p90_s": "s", "mem_peak_mb": "MB"},
         "sf01_stream": {"query_p90_s": "s", "mem_peak_mb": "MB", "trigger_p50_ms": "ms",
                         "trigger_p90_ms": "ms", "stream_rows_per_s": "rows/s"},
         "corpus_dedup": {"query_p90_s": "s", "mem_peak_mb": "MB", "docs_per_s": "docs/s"}}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", "--docs", "3000"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    assert r.returncode == 0, f"{workload}: exit {r.returncode}\n{r.stderr[-3000:]}"
    line = r.stdout.strip().splitlines()[-1]
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, \
        f"{workload}: {res['failed']} failed\n{r.stderr[-3000:]}"
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{workload}: metric/unit mismatch {set(got) ^ set(want)}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
    art = json.load(open(os.path.join(
        ROOT, ".bench_build", "results", f"{workload}-seed1-trace{trace}.json")))
    if not trace:
        for k, unit in EXTRA.get(workload, {}).items():
            assert art["end_to_end"][k]["unit"] == unit and art["end_to_end"][k]["value"] > 0, k
        return len(line)
    a = art["attribution"]
    assert a["jobs"] > 0 and a["jobs_misattributed"] == 0, a
    assert a["triggers_outside_stream_query"] == 0, a
    if workload == "sf01_stream":
        assert a["triggers"] > 0, a
    unattributed = res["metrics"]["trace.unattributed_frac"]["value"]
    assert 0 <= unattributed <= UNATTRIBUTED_MAX, (workload, unattributed)
    return len(line)


def main():
    for w in ("sf01_batch", "sf01_stream", "corpus_dedup"):
        for trace in (0, 1):
            n = run(w, trace)
            print(f"ok {w} trace={trace} ({n}-byte line)")


if __name__ == "__main__":
    main()
