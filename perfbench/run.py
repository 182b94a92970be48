#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, on local[nproc], with one
Python thread running one job at a time (a closed loop with one client).

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It stages seeded inputs, times set-up,
a cold first job and warm repetitions, checks every result against an
oracle, and prints the end-to-end metrics (``--trace 0``) or the per-layer
metrics of a traced run (``--trace 1``). The last line of standard output
is one JSON object; the exit code is 1 if any result was wrong. METRICS.md
describes every metric and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE_DIR = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3

END_TO_END = {"setup_s": "s", "first_job_s": "s", "job_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}

EVENT_LAYERS = ("sources", "spatial_join.dim", "spatial_join.pip", "streaming", "linkres")
EVENT_FIELDS = {"cpu_s": "s", "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s"}
FIT_LAYERS = ("sources", "binparse", "cells", "spatial_join.dim", "spatial_join.pip", "spatial_join.tiles", "linkres")
# chain layer -> its self-time metric
SECONDS = {
    "sources": "sources.s", "binparse": "binparse.s", "cells": "cells.s",
    "spatial_join.stats": "spatial_join.stats.s", "spatial_join.dim": "spatial_join.dim.s",
    "spatial_join.pip": "spatial_join.pip.s", "spatial_join.tiles": "spatial_join.tiles.s", "sink": "sink.s",
    "linkres.call": "linkres.call_s", "linkres.facts": "linkres.facts_s", "linkres.exec": "linkres.exec_s",
}
# per-layer metric -> unit; a layer the workload does not run reports 0,
# except the linkres.* metrics, which only the linkres workload reports
PER_LAYER = {
    "session.start_s": "s",
    "sources.s": "s", "sources.mb_read": "MB", "sources.rows": "count",
    "binparse.s": "s", "cells.s": "s",
    "spatial_join.stats.s": "s", "spatial_join.stats.jobs": "count",
    "spatial_join.dim.s": "s", "spatial_join.dim.rows": "count", "spatial_join.dim.broadcast_mb": "MB",
    "spatial_join.pip.s": "s", "spatial_join.pip.pairs": "count", "spatial_join.pip.hit_ratio": "ratio",
    "spatial_join.tiles.s": "s",
    "sink.s": "s", "checkpoint.commit_s": "s", "checkpoint.mb_written": "MB",
    "streaming.batches": "count", "streaming.trigger_s_p50": "s", "streaming.state_rows": "count",
    "streaming.state_commit_s": "s",
    "linkres.call_s": "s", "linkres.facts_s": "s", "linkres.exec_s": "s", "linkres.jobs": "count",
    **{f"{layer}.{f}": unit for layer in EVENT_LAYERS for f, unit in EVENT_FIELDS.items()},
    **{f"{layer}.{f}": unit for layer in FIT_LAYERS for f, unit in (("fixed_s", "s"), ("ns_per_row", "ns/row"))},
    "trace.overhead_ratio": "ratio",
}


def _git_commit() -> str:
    """HEAD of the checkout if it is a git work tree, else "unknown"."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def layer_metrics(w, tracer, log, session_s: float, job_s: float) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, and the self-time table. Each
    value is the median over the measured passes."""
    from harness import median, window_metrics

    def passes(size: str, span: str) -> list[str]:
        """The measured passes that ran ``span`` at ``size``."""
        return [p for p in (f"pass{k}" for k in range(w.passes)) if tracer.has(f"{p}/{size}/{span}")]

    def self_s(size: str, layer: str) -> float:
        plus, minus = w.chain[layer]
        return median(
            sum(tracer.seconds(f"{p}/{size}/{s}") for s in plus) - sum(tracer.seconds(f"{p}/{size}/{s}") for s in minus)
            for p in passes(size, plus[0])
        )

    def self_events(layer: str) -> dict:
        plus, minus = w.chain[layer]
        per_pass = []
        for p in passes("full", plus[0]):
            wins = {s: window_metrics(log, tracer.find(f"{p}/full/{s}")) for s in plus + minus}
            per_pass.append({k: sum(wins[s][k] for s in plus) - sum(wins[s][k] for s in minus)
                             for k in wins[plus[0]]})
        return {k: median(d[k] for d in per_pass) for k in per_pass[0]}

    def raw_events(span: str) -> dict:
        per_pass = [window_metrics(log, tracer.find(f"{p}/full/{span}")) for p in passes("full", span)]
        return {k: median(d[k] for d in per_pass) for k in per_pass[0]}

    m = {name: 0.0 for name in PER_LAYER if w.name == "linkres" or not name.startswith("linkres.")}
    m["session.start_s"] = session_s
    table = {layer: {"full_s": self_s("full", layer)} for layer in w.chain}
    for layer in w.chain:
        if layer in SECONDS:
            m[SECONDS[layer]] = table[layer]["full_s"]
    for layer in set(EVENT_LAYERS) & set(w.chain):
        ev = self_events(layer)
        table[layer]["events"] = ev
        for f in EVENT_FIELDS:
            m[f"{layer}.{f}"] = ev[f]
    n_full, n_small = w.rows(None), w.rows(8)
    for layer in w.fitted:
        s_full, s_small = table[layer]["full_s"], self_s("small", layer)
        per_row = (s_full - s_small) / (n_full - n_small)
        table[layer].update(small_s=s_small, rows=[n_full, n_small])
        m[f"{layer}.fixed_s"] = s_full - per_row * n_full
        m[f"{layer}.ns_per_row"] = per_row * 1e9
    m["sources.rows"] = n_full
    m["sources.mb_read"] = sum(os.path.getsize(f) for f in w.files()) / 2**20
    if "spatial_join.stats" in w.chain:
        m["spatial_join.stats.jobs"] = raw_events("spatial_join.stats")["jobs"]
    if "spatial_join.pip" in w.chain:
        m["spatial_join.dim.broadcast_mb"] = raw_events("spatial_join.pip")["broadcast_mb"]
        cand = w.counts["spatial_join.pip.candidates"]
        m["spatial_join.pip.hit_ratio"] = w.counts["spatial_join.pip.pairs"] / cand if cand else 0.0
    if "linkres" in w.chain:
        m["linkres.jobs"] = table["linkres"]["events"]["jobs"]
    m.update({k: v for k, v in w.counts.items() if k in PER_LAYER})
    traced_total = sum(table[layer]["full_s"] for layer in w.total)
    m["trace.overhead_ratio"] = traced_total / job_s
    table["traced_total_s"] = traced_total
    return m, table


def _attempt(tracer, name: str, job, check) -> tuple[float, bool]:
    """Time one repetition of the job in a span, then check its result.
    A repetition that raises counts as failed and keeps its time."""
    t0 = time.perf_counter()
    try:
        with tracer.span(name):
            result = job()
    except Exception:
        traceback.print_exc()
        return time.perf_counter() - t0, False
    seconds = time.perf_counter() - t0
    try:
        return seconds, check(result)
    except Exception:
        traceback.print_exc()
        return seconds, False


def run(args) -> int:
    sys.path.insert(0, BENCH_DIR)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import harness
    import pyarrow
    import pyspark
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(STATE_DIR, "run", run_id)
    data_root = os.path.join(work, "data")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    n = harness.nproc()
    info = {"run_id": run_id, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": n, "master": f"local[{n}]", "git_commit": _git_commit(),
            "load_before": harness.loadavg()}
    times = []
    try:
        with harness.RssSampler() as rss:
            spark, session_s = harness.start_session(work, event_dir)
            try:
                info.update(spark=pyspark.__version__, pyarrow=pyarrow.__version__)
                tracer = harness.Tracer(run_id, spark)
                w = cls(spark, data_root, work, args.seed)
                stage_s = []
                for i in range(SETUP_REPS):
                    if w.inp:
                        shutil.rmtree(w.inp["dir"])
                    t0 = time.perf_counter()
                    with tracer.span("setup"):
                        w.inp = w.stage()
                    stage_s.append(time.perf_counter() - t0)
                first_s, ok = _attempt(tracer, "first_job", w.job, w.check_first)
                attempted, failed = 1, int(not ok)
                # the next runs still compile code and warm the JIT: untimed
                for _ in range(w.warmup_reps):
                    _, ok = _attempt(tracer, "warmup_job", w.job, w.check)
                    attempted += 1
                    failed += not ok
                # a traced run needs one untraced time, as the base of trace.overhead_ratio
                deadline = time.perf_counter() + (0 if args.trace else args.seconds)
                while not times or time.perf_counter() < deadline:
                    seconds, ok = _attempt(tracer, "rep", w.job, w.check)
                    times.append(seconds)
                    attempted += 1
                    failed += not ok
                job_s = harness.median(times)
                if args.trace:
                    w.trace(tracer)
                    attempted += len(w.checks)
                    failed += w.checks.count(False)
            finally:
                rss.poll()
                harness.stop_session(spark)
        info["load_after"] = harness.loadavg()
        info["contended"] = max(info["load_before"], info["load_after"]) > n
        e2e = {
            "setup_s": session_s + harness.median(stage_s),
            "first_job_s": first_s,
            "job_s": job_s,
            "rows_per_s": w.rows() / job_s,
            "peak_rss_mb": rss.peak_mb,
        }
        info.update(e2e=e2e, job_samples=len(times), job_times_s=times, setup_stage_s=stage_s,
                    session_start_s=session_s, attempted=attempted, failed=failed,
                    fail_ratio=failed / attempted, rows=w.rows())
        if args.trace:
            log = harness.read_event_log(event_dir)
            metrics, table = layer_metrics(w, tracer, log, session_s, job_s)
            info.update(per_layer=metrics, layers=table, counts=w.counts)
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        info["spans"] = tracer.spans
        os.makedirs(os.path.join(STATE_DIR, "out"), exist_ok=True)
        with open(os.path.join(STATE_DIR, "out", run_id + ".json"), "w") as fh:
            json.dump(info, fh, indent=1, default=str)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} local[{n}] job_s over {len(times)} warm repetitions"
          f"{' CONTENDED: load average above nproc' if info['contended'] else ''}")
    for name, value in metrics.items():
        print(f"{name:34s} {value:14.6g} {units[name]}")
    print(f"{'fail_ratio':34s} {failed / attempted:14.6g} ratio ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("flagship", "ingest", "linkres"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="how long the warm repetitions run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
