#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, one JSON line.

Usage (from the repository root):
  python3 graftbench/run.py --workload sf01_batch --seed 1 --seconds 10 --trace 0

Workloads: sf01_batch, sf01_stream, corpus_dedup (see graftbench/README.md).
Each run builds graft if its sources changed (`build.py`), generates the
workload's inputs from the seed into a fresh run directory, points the
JVM's tmpdir and Spark's local dir at that directory (so every run
starts from the same disk state), runs `Runner`, checks every
operation's output against its DuckDB twin from `SparkEntry.oracleSql`,
deletes the run directory, and prints one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Per-operation rows, every pass with its calibration
brackets, and the layer split of each query go to the artifact
`.bench_build/results/<workload>-seed<seed>-trace<trace>.json`.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import build  # noqa: E402

ORACLE_CACHE = os.path.join(build.BUILD, "oracle")
# the tables are fixed like the reference testdata (seed 42); --seed
# permutes operation order within each pass
DATA_SEED = 42
WORKLOADS = ("sf01_batch", "sf01_stream", "corpus_dedup")
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 165
HEAP_CAP = "4g"
CPUS = min(4, len(os.sched_getaffinity(0)))
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                 "commitOffsets")


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input sizes; the smoke test shrinks them
    p.add_argument("--sf", type=float, default=0.1)
    p.add_argument("--docs", type=int, default=8000)
    return p.parse_args()


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---- interval arithmetic for the span tree ---------------------------

def union(intervals):
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def length(intervals):
    return sum(b - a for a, b in union(intervals))


def minus(intervals, cut):
    """Length of union(intervals) not covered by union(cut)."""
    u = union(intervals)
    return length(u) - length([(max(a, c), min(b, d)) for a, b in u for c, d in union(cut)
                               if min(b, d) > max(a, c)])


# ---- output check (the scripts/check.py comparison) ------------------

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="first").reset_index(drop=True)
    return df


def values_equal(a, b, tol=1e-9):
    import pandas as pd
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return abs(fa - fb) <= tol * max(1.0, abs(fa), abs(fb))
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)


def compare(got, exp):
    """None when equal; else a one-line reason."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns differ: spark={list(got.columns)} duck={list(exp.columns)}"
    if len(got) != len(exp):
        return f"rowcount differ: spark={len(got)} duck={len(exp)}"
    for c in got.columns:
        gs, es = got[c].astype(str), exp[c].astype(str)
        for i in (gs != es).to_numpy().nonzero()[0]:
            g, e = got[c].iloc[i], exp[c].iloc[i]
            if not values_equal(g, e):
                return f"col {c} row {i}: spark={g!r} duck={e!r}"
    return None


def fingerprint(data_dir):
    """Content hash of every parquet file under the input directory."""
    digests = []
    for base, _, files in os.walk(data_dir):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(base, f), "rb") as fh:
                    digests.append(hashlib.sha256(fh.read()).hexdigest())
    return hashlib.sha256("".join(sorted(digests)).encode()).hexdigest()


def expected(con, sql, data_fp):
    """The DuckDB twin's result, cached under .bench_build/oracle by the
    SQL text and the input content hash: the index twins take up to a
    minute in DuckDB, and their result depends on nothing else."""
    import pandas as pd
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    key = hashlib.sha256((sql + "\0" + data_fp).encode()).hexdigest()
    path = os.path.join(ORACLE_CACHE, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_outputs(results, data_dir):
    """Compare each result parquet with its DuckDB twin over the same
    tables; returns {name: reason} for every mismatch."""
    import duckdb
    import pandas as pd
    data_fp = fingerprint(data_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for r in results:
        name = r["name"]
        if r.get("error"):
            bad[name] = r["error"]
            continue
        if not r.get("oracle"):
            bad[name] = "no DuckDB twin"
            continue
        try:
            got = pd.read_parquet(r["path"])
            why = compare(got, expected(con, r["oracle"], data_fp))
        except Exception as e:  # an unreadable result or a broken twin is a mismatch
            why = f"{type(e).__name__}: {e}"[:300]
        if why:
            bad[name] = why
    con.close()
    return bad


# ---- metrics ---------------------------------------------------------

def load_raw(path):
    recs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            recs.setdefault(r["k"], []).append(r)
    return recs


SLACK_MS = 5.0  # listener-bus times are whole ms on another clock


def inside(o, t0, t1=None):
    """Whether [t0, t1] (ms) lies inside op o's window."""
    return o["t0"] - SLACK_MS <= t0 and (t1 if t1 is not None else t0) <= o["t1"] + SLACK_MS


def window_of(ops, t):
    """The op record whose [t0, t1] window holds time t (ms)."""
    for o in ops:
        if inside(o, t):
            return o
    return None


def trigger_stats(progress, ops):
    """(triggerExecution ms of every trigger inside a stream_* window,
    input rows of those triggers, summed stream query wall in s)."""
    streams = [o for o in ops if o["name"].startswith("stream_")]
    trig, rows = [], 0
    for p in progress:
        if window_of(streams, p["t"]) is not None:
            trig.append(p["dur"].get("triggerExecution", 0))
            rows += p["rows"]
    return trig, rows, sum(o["t1"] - o["t0"] for o in streams) / 1000


def end_to_end(raw, t_start, n_docs):
    """The stdout metrics (the same set on every workload) and the
    workload-specific ones that go only to the artifact."""
    passes = [p for p in raw["pass"] if not p["traced"]]
    timed = {p["pass"] for p in passes}
    ops = [o for o in raw["op"] if o["pass"] in timed]
    per_op = {}
    for o in ops:
        per_op.setdefault(o["name"], []).append((o["t1"] - o["t0"]) / 1000)
    op_med = [statistics.median(v) for v in per_op.values()]
    pass_s = statistics.median((p["t1"] - p["t0"]) / 1000 for p in passes)
    m = {
        "setup_s": (raw["first_timed"][0]["t"] / 1000 - t_start, "s"),
        "pass_s": (pass_s, "s"),
        "query_p50_s": (quantile(op_med, 0.5), "s"),
        "heap_live_mb": (raw["heap"][0]["live_mb"], "MB"),
    }
    # p90 over a handful of per-operation medians is the slowest
    # operation, not a percentile with samples beyond it; peak RSS
    # follows G1's heap growth more than the program (IQR/median 0.3-0.45
    # over five seeds), so no bound holds on it: artifact only
    extra = {"query_p90_s": (quantile(op_med, 0.9), "s"),
             "mem_peak_mb": (raw["end"][0]["vmhwm_kb"] / 1024, "MB")}
    trig, rows, wall = trigger_stats(raw.get("progress", []), ops)
    if trig:
        extra["trigger_p50_ms"] = (quantile(trig, 0.5), "ms")
        extra["trigger_p90_ms"] = (quantile(trig, 0.9), "ms")
        extra["stream_rows_per_s"] = (rows / wall, "rows/s")
    if n_docs:
        extra["docs_per_s"] = (n_docs * len(per_op) / pass_s, "docs/s")
    return m, extra, per_op


def per_layer(raw, cpus):
    """Layer metrics from the traced passes, per pass; one span-tree row
    per traced query execution; and the attribution counts the smoke
    test asserts on."""
    traced = [p for p in raw["pass"] if p["traced"]]
    plain = [p for p in raw["pass"] if not p["traced"]]
    n = len(traced)
    tp = {p["pass"] for p in traced}
    modules = raw["start"][0]["modules"]
    ops = [o for o in raw["op"] if o["pass"] in tp]
    by_tag = {f'{o["name"]}#{o["pass"]}': o for o in ops}
    jobs = {}
    for j in raw.get("job_start", []):
        jobs[j["job"]] = {"op": j["op"], "t0": j["t"], "t1": j["t"], "site": j["site"],
                          "stages": j["stages"]}
    for j in raw.get("job_end", []):
        if j["job"] in jobs:
            jobs[j["job"]]["t1"] = j["t"]
    qes = []
    for q in raw.get("qe", []):
        starts = [v[0] for v in q["phases"].values()]
        o = window_of(ops, min(starts)) if starts else None
        if o is not None:
            qes.append((o, q["phases"]))
    sql = {s["id"]: [s["t"], s["t"]] for s in raw.get("sql_start", [])}
    for s in raw.get("sql_end", []):
        if s["id"] in sql:
            sql[s["id"]][1] = s["t"]
    sql = [(window_of(ops, a), (a, b)) for a, b in sql.values()]
    tasks = {}
    for t in raw.get("tasks", []):
        if t["op"] in by_tag:
            for k, v in t.items():
                if k not in ("k", "op"):
                    tasks[k] = tasks.get(k, 0) + v
    stages = [s for s in raw.get("stage", []) if s["op"] in by_tag]
    progress = [(p, window_of(ops, p["t"])) for p in raw.get("progress", [])]
    progress = [(p, o) for p, o in progress if o is not None]

    # span tree per query execution: query -> build -> catalyst phases and
    # SQL executions -> jobs. Each self time is the span's time outside its
    # children; `unattributed_ms` is wall time under no recorded span.
    rows = []
    for tag, o in by_tag.items():
        job_iv = [(j["t0"], j["t1"]) for j in jobs.values() if j["op"] == tag]
        exec_iv = clip(job_iv, o["t0"], o["t1"])
        cat_iv = clip([tuple(v) for q, ph in qes if q is o for v in ph.values()], o["t0"], o["t1"])
        sql_iv = clip([iv for q, iv in sql if q is o], o["t0"], o["t1"])
        build_iv = [(o["t0"], o["tb"])]
        wall = o["t1"] - o["t0"]
        row = {
            "op": o["name"], "pass": o["pass"], "wall_ms": wall,
            "exec_ms": length(exec_iv),
            "catalyst_ms": minus(cat_iv, exec_iv),
            "driver_ms": minus(sql_iv, exec_iv + cat_iv),
            "build_self_ms": minus(build_iv, exec_iv + cat_iv + sql_iv),
            "unattributed_ms": wall - length(exec_iv + cat_iv + sql_iv + build_iv),
            "jobs": len(job_iv),
            "build_jobs": sum(1 for a, _ in job_iv if a < o["tb"]),
            "plans": len(sql_iv),
        }
        rows.append(row)

    def phase_s(name):
        return sum(ph[name][1] - ph[name][0] for _, ph in qes if name in ph) / 1000 / n

    wall_s = sum(o["t1"] - o["t0"] for o in ops) / 1000
    stream_ops = [o for o in ops if o["name"].startswith("stream_")]
    trig = [p for p, _ in progress]
    n_trig = len(trig)
    stream_tags = {f'{o["name"]}#{o["pass"]}' for o in stream_ops}
    stream_jobs = sum(1 for j in jobs.values() if j["op"] in stream_tags)

    def trig_mean(f):
        return sum(f(p) for p in trig) / n_trig if n_trig else 0.0

    m = {
        "tables.scan_bytes": (tasks.get("in_bytes", 0) / n, "bytes"),
        "tables.scan_rows": (tasks.get("in_rows", 0) / n, "rows"),
        "queries.build_s": (sum(o["tb"] - o["t0"] for o in ops) / 1000 / n, "s"),
        "queries.build_jobs": (sum(r["build_jobs"] for r in rows) / n, "count"),
    }
    for mod in ("relational", "pipeline", "datapipeline", "streaming"):
        m[f"queries.{mod}_s"] = (sum(o["t1"] - o["t0"] for o in ops
                                     if modules.get(o["name"]) == mod) / 1000 / n, "s")
    m.update({
        "catalyst.analysis_s": (phase_s("analysis"), "s"),
        "catalyst.optimization_s": (phase_s("optimization"), "s"),
        "catalyst.planning_s": (phase_s("planning"), "s"),
        "catalyst.plans": (quantile([r["plans"] for r in rows], 0.5), "count"),
        "exec.driver_s": (sum(r["driver_ms"] for r in rows) / 1000 / n, "s"),
        "exec.jobs": (sum(r["jobs"] for r in rows) / n, "count"),
        "exec.jobs_per_query_p50": (quantile([r["jobs"] for r in rows], 0.5), "count"),
        "exec.stages": (len(stages) / n, "count"),
        "exec.tasks": (tasks.get("tasks", 0) / n, "count"),
        "exec.task_run_s": (tasks.get("run_ms", 0) / 1000 / n, "s"),
        "exec.task_cpu_s": (tasks.get("cpu_ms", 0) / 1000 / n, "s"),
        "exec.task_gc_s": (tasks.get("gc_ms", 0) / 1000 / n, "s"),
        "exec.slot_util": (tasks.get("run_ms", 0) / 1000 / (wall_s * cpus), "frac"),
        "exec.shuffle_write_bytes": (tasks.get("shuffle_write", 0) / n, "bytes"),
        "exec.shuffle_read_bytes": (tasks.get("shuffle_read", 0) / n, "bytes"),
        "exec.spill_bytes": (tasks.get("spill", 0) / n, "bytes"),
    })
    fns = {f["name"]: f["s"] for f in raw.get("function", [])}
    for fn in ("minhash_sigs", "simhash64", "shingle_hash32", "cosine_sim"):
        m[f"functions.{fn}_s"] = (fns.get(fn, 0.0), "s")
    trig_ms, trig_rows, trig_wall = trigger_stats(trig, ops)
    m["streaming.trigger_p50_ms"] = (quantile(trig_ms, 0.5), "ms")
    m["streaming.trigger_p90_ms"] = (quantile(trig_ms, 0.9), "ms")
    m["streaming.rows_per_s"] = (trig_rows / trig_wall if trig_wall else 0.0, "rows/s")
    m["streaming.triggers"] = (n_trig / n, "count")
    m["streaming.jobs_per_trigger"] = (stream_jobs / n_trig if n_trig else 0.0, "count")
    for ph in STREAM_PHASES:
        m[f"streaming.{ph}_ms"] = (trig_mean(lambda p: p["dur"].get(ph, 0)), "ms")
    m["streaming.state_rows"] = (trig_mean(lambda p: p["state_rows"]), "rows")
    m["streaming.state_commit_ms"] = (trig_mean(lambda p: p["state_commit_ms"]), "ms")
    trig_s = sum(p["dur"].get("triggerExecution", 0) for p in trig) / 1000
    m["streaming.start_stop_s"] = (
        (sum(o["t1"] - o["t0"] for o in stream_ops) / 1000 - trig_s) / n, "s")
    traced_s = statistics.median((p["t1"] - p["t0"]) for p in traced)
    plain_s = statistics.median((p["t1"] - p["t0"]) for p in plain)
    m["trace.overhead_frac"] = (traced_s / plain_s - 1, "frac")
    m["trace.unattributed_frac"] = (sum(r["unattributed_ms"] for r in rows) / (wall_s * 1000),
                                    "frac")

    # attribution: every job seen by the listener that runs stages must
    # carry the tag of a traced operation and start inside its window;
    # every trigger of the run must start and end inside a stream_*
    # operation. A job with no stages (a collect over zero partitions)
    # runs no task; Spark launches some from pool threads that carry no
    # local properties, so untagged ones are listed apart.
    jobs_bad = [j for j in jobs.values()
                if j["stages"] and (j["op"] not in by_tag or not inside(by_tag[j["op"]], j["t0"]))]
    jobs_empty = [j for j in jobs.values() if not j["stages"] and j["op"] not in by_tag]
    streams_all = [o for o in raw["op"] if o["name"].startswith("stream_")]

    def started_in(j):
        o = window_of(raw["op"], j["t0"])
        return o and f'{o["name"]}#{o["pass"]}'
    trig_bad = [p["run"] for p in raw.get("progress", [])
                if not any(inside(o, p["t"], p["t"] + p["dur"].get("triggerExecution", 0))
                           for o in streams_all)]
    attribution = {"jobs": len(jobs), "jobs_misattributed": len(jobs_bad),
                   "jobs_misattributed_list": [
                       {"tag": j["op"], "call_site": j["site"], "started_in": started_in(j)}
                       for j in jobs_bad],
                   "jobs_untagged_without_stages": [
                       {"call_site": j["site"], "started_in": started_in(j)} for j in jobs_empty],
                   "triggers": len(raw.get("progress", [])),
                   "triggers_outside_stream_query": len(trig_bad)}
    return m, rows, attribution


def main():
    args = parse_args()
    try:
        cp = build.build()
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 2
    # setup_s counts from here: the build is skipped once compiled, so the
    # first run of a checkout is not charged for it
    t_start = time.time()
    w = args.workload
    run_dir = os.path.join(build.BUILD, f"run-{w}-{args.seed}-{os.getpid()}")
    art_dir = os.path.join(build.BUILD, "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, data, results = (os.path.join(run_dir, d) for d in ("tmp", "data", "results"))
    for d in (tmp, data, results, art_dir):
        os.makedirs(d, exist_ok=True)
    raw_path = os.path.join(run_dir, "raw.jsonl")
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        if w in ("sf01_batch", "sf01_stream"):
            import gen_tables
            gen_tables.generate(data, args.sf, DATA_SEED)
        # G1 sizes the heap as the program would run it; -Xmx only caps it
        # (the program's own default cap is 24g) to keep a shared host safe
        cmd = (["java", f"-Xmx{HEAP_CAP}", "-Djava.awt.headless=true",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={tmp}"]
               + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graftbench.Runner", w, str(args.seed), str(args.seconds),
                  str(args.trace), data, results, raw_path, str(CPUS), str(args.docs)])
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.stderr.write(f"graftbench: runner exited with {rc}\n")
            return 1
        raw = load_raw(raw_path)
        n_docs = raw["corpus"][0]["docs"] if "corpus" in raw else 0
        bad = check_outputs(raw["result"], data)
        timed = [o for o in raw["op"] if o["pass"] > 0]
        attempted = len(timed)
        failed = sum(1 for o in timed if o["error"] or o["name"] in bad)
        e2e, extra, per_op = end_to_end(raw, t_start, n_docs)
        artifact = {
            "workload": w, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "sf": args.sf, "docs": n_docs, "cpus": CPUS,
            "seed_selects": "per-pass permutation of the operation set",
            "attempted": attempted, "failed": failed, "failed_frac": failed / max(attempted, 1),
            "mismatches": bad,
            "errors": {o["name"]: o["error"] for o in raw["op"] if o["error"]},
            "passes": [{k: p[k] for k in ("pass", "traced", "cal_pre_ms", "cal_post_ms")}
                       | {"pass_s": (p["t1"] - p["t0"]) / 1000} for p in raw["pass"]],
            "warmup_pass_s": {which: {o["name"]: (o["t1"] - o["t0"]) / 1000
                                      for o in raw["op"] if o["pass"] == p}
                              for which, p in (("cold", -1), ("settle", 0))},
            "per_query_s": per_op,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in (e2e | extra).items()},
        }
        metrics = e2e
        if args.trace:
            layers, rows, attribution = per_layer(raw, CPUS)
            artifact.update(per_layer={k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
                            spans=rows, attribution=attribution)
            metrics = layers
        art = os.path.join(art_dir, f"{w}-seed{args.seed}-trace{args.trace}.json")
        with open(art, "w") as f:
            json.dump(artifact, f, indent=1)
        for name, why in sorted(bad.items()):
            sys.stderr.write(f"graftbench: {name}: output mismatch: {why}\n")
        line = {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        print(json.dumps(line, separators=(",", ":")))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
