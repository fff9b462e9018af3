"""Benchmark of the redeye_spark log pipeline, sized from the host it runs on.

    python3 perfbench/run.py --workload combined_fast --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One run generates the workload's corpus from ``--seed`` and computes the
expected outputs with the pandas reference parser (both are kept for later
runs on the same seed), starts a session sized from the host, warms it up
with a fixed number of runs, then calls the workload's entry point in a
closed loop (one run at a time) for ``--seconds``. Every run is checked;
a wrong output, a raised error or a run off its expected parse path counts
as failed.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones. The last stdout line is the result
object; the line before it records the host, the session sizing, the
host-health bracket and every run wall. Exit status is 0 when every run
was correct, 1 when one was not, 2 when the program cannot be loaded.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _run_all(args, names) -> int:
    """Each workload in its own process; one combined report."""
    results, status = {}, 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        try:
            results[name] = json.loads(lines[-1]) if proc.returncode in (0, 1) else None
        except (IndexError, json.JSONDecodeError):
            results[name] = None
        # a child killed by a signal has a negative code; no result is a failure too
        if proc.returncode < 0 or results[name] is None:
            status = max(status, 1)
        status = max(status, proc.returncode)
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps(results))
    return status


_START = time.monotonic()


def _log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _START:5.1f} s]: {msg}", file=sys.stderr, flush=True)


def _stop_children(timeout_s: float = 20.0) -> None:
    """Wait for every process this run started; end any that linger."""
    from perfbench import probes

    deadline = time.monotonic() + timeout_s
    while probes.child_pids() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in probes.child_pids():
        _log(f"ending lingering process {pid}")
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5
    while probes.child_pids() and time.monotonic() < deadline:
        time.sleep(0.2)


def _measure(bench, seconds: float, trace: bool) -> tuple[dict, dict, list]:
    from perfbench import harness, probes

    rows = harness.ROWS
    bench.prepare_inputs()
    _log("inputs and expected outputs ready")
    before = bench.health()
    _log(f"kernel {before:.0f} rows/s")
    start_s = bench.start_session()
    # a traced run makes a few untraced runs too, to price the tracing
    warm, timed, peak_mb = bench.warm_and_time(0 if trace else seconds)
    _log(f"session {start_s:.1f} s, warm-up runs {[round(r.wall_s, 2) for r in warm]}")
    sink_bytes = bench.sink_bytes()
    _log(f"timed runs {[round(r.wall_s, 2) for r in timed]}")
    layers, traced = bench.traced(reps=2) if trace else ({}, [])
    if bench.wl.chunked:
        (traced or timed)[-1].problems += bench.check_final_counts()
    bench.close()
    _log("session stopped")
    after = bench.health()
    _log(f"kernel {after:.0f} rows/s")

    ok = [r for r in timed if not r.problems] or timed
    rows_per_s = rows / statistics.median(r.wall_s for r in ok)
    if trace:
        traced_rps = rows / statistics.median(r.wall_s for r in traced)
        metrics = dict(layers)
        metrics.update({
            "session.start_s": start_s,
            "session.warm_runs": len(warm),
            "session.first_run_s": warm[0].wall_s,
            "session.warm_s": sum(r.wall_s for r in warm),
            "trace.rows_per_s": traced_rps,
            "trace.untraced_rows_per_s": rows_per_s,
            "trace.overhead_frac": 1 - traced_rps / rows_per_s,
            "host.kernel_before_rows_per_s": before,
            "host.kernel_after_rows_per_s": after,
        })
    else:
        metrics = {
            "rows_per_s": rows_per_s,
            # a sum, not a median: JIT and GC threads spill CPU across runs
            "cpu_s_per_mrow": sum(r.cpu_s for r in ok) / (rows * len(ok)) * 1e6,
            "peak_rss_mb": peak_mb,
            "sink_bytes_per_row": sink_bytes / rows,
            "setup_s": start_s + sum(r.wall_s for r in warm),
        }
    record = {
        "workload": bench.wl.name,
        "seed": bench.seed,
        "trace": int(trace),
        "rows": rows,
        "host": {**probes.host_record(ROOT), "slots": bench.slots, "heap_mb": bench.heap_mb},
        "health": {"kernel_before_rows_per_s": before, "kernel_after_rows_per_s": after,
                   "after_over_before": after / before, "pinned": bench.pinned},
        "session_start_s": start_s,
        "warm_walls_s": [r.wall_s for r in warm],
        "timed_walls_s": [r.wall_s for r in timed],
        "timed_cpu_s": [r.cpu_s for r in timed],
        "traced_walls_s": [r.wall_s for r in traced],
    }
    return metrics, record, warm + timed + traced


def main(argv=None) -> int:
    args = _args(argv)
    with open(SPEC) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload == "all":
        return _run_all(args, names)
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import redeye_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import harness, probes

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # kept across invocations; a change to the program or the benchmark makes a new one
    inputs = os.path.join(ROOT, ".perfbench_work", "inputs", "seed{}-{}".format(
        args.seed, probes.source_digest(ROOT, ("redeye_spark", "perfbench"))[:16]))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    bench = harness.Bench(harness.WORKLOADS[args.workload], args.seed, work, inputs)
    try:
        metrics, record, runs = _measure(bench, args.seconds, bool(args.trace))
    finally:
        bench.close()
        _stop_children()
        shutil.rmtree(work, ignore_errors=True)
    _log("cleaned up")

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json {kind}: "
                           f"{sorted(set(metrics) ^ set(units))}")
    failed = [r for r in runs if r.problems]
    record["problems"] = [p for r in failed for p in r.problems][:10]
    print(json.dumps(record))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(runs),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
