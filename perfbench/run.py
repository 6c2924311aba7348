"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --spread N [--workload NAME ...] [--seconds S]

The first form runs one workload from the root of a checkout and prints,
as its last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  A traced run also writes its spans
and per-query breakdowns to ``perfbench_out/trace-<workload>-<seed>.json``.
It exits non-zero when an output check fails or the engine is missing.

The second form runs each workload N times with seeds 1..N (plus one
traced run) and prints the median, quartiles, min and max of every
end-to-end metric, the spread (quartile distance over median) and the
tracing overhead.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170


class RunTimeout(BaseException):
    """Raised by the alarm; a BaseException so no ``except Exception``
    around a query or check can swallow it."""


def _timeout(signum, frame):
    raise RunTimeout(f"run exceeded {TIME_LIMIT_S} s")


def _result_line(res, trace: bool, per_layer: dict) -> dict:
    if trace:
        metrics = {k: {"value": float(res.layers.get(k, (0.0,))[0]), "unit": u}
                   for k, (u, _) in per_layer.items()}
    else:
        metrics = {k: {"value": float(v), "unit": u}
                   for k, (v, u) in sorted(res.metrics.items())}
    return {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted else 1,
        "metrics": metrics,
    }


def _stop_jvm() -> None:
    """Terminate the JVM the session launched and wait until it and its
    Python worker processes have exited."""
    from pyspark import SparkContext

    import probes

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    workers = probes.descendants(proc.pid)
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"engine not found next to {HERE}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    lock = open(os.path.join(ROOT, ".perfbench", "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("another benchmark run holds the lock", file=sys.stderr)
        return 3
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # the registry's stream folds stage captures under <root>/spark-warehouse
    wh = os.path.join(ROOT, "spark-warehouse")
    wh_before = set(os.listdir(wh)) if os.path.isdir(wh) else None
    sys.path[:0] = [ROOT, HERE]
    import workloads  # imports no engine module: those read the env below

    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
        "SPARK_GRAFT_CPUS": str(workloads.CPUS),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    os.chdir(run_dir)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    run = workloads.Run(run_dir, args.seed, args.seconds, bool(args.trace),
                        args.workload)
    try:
        res = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            out_dir = os.path.join(ROOT, "perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.write(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "metrics": {k: v for k, (v, _) in res.metrics.items()},
                 "layers": {k: v for k, (v, _) in res.layers.items()},
                 **res.notes})
    finally:
        signal.alarm(0)
        run.stop_session()
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        if wh_before is None:
            shutil.rmtree(wh, ignore_errors=True)
        elif os.path.isdir(wh):
            for d in set(os.listdir(wh)) - wh_before:
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
        lock.close()
    line = _result_line(res, bool(args.trace), workloads.PER_LAYER)
    sys.stdout.flush()
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


# ------------------------------------------------------------ spread


def _invoke(workload: str, seed: int, seconds: int, trace: int) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    summary = [ln for ln in p.stderr.splitlines()
               if ln.startswith("# ") and not ln.startswith("# t+")]
    print(f"  seed {seed}: {out['wall_s']:.0f} s; " + "; ".join(summary),
          file=sys.stderr)
    return out


def spread(args) -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    worst = 0.0
    for w in names:
        runs = [r for s in range(args.seed, args.seed + args.spread)
                if (r := _invoke(w, s, seconds, 0))]
        print(f"\n{w}: {len(runs)}/{args.spread} runs ok, wall "
              f"{statistics.median(r['wall_s'] for r in runs):.1f} s median"
              if runs else f"\n{w}: no run succeeded")
        for m in sorted(bounds):
            vals = [r["metrics"][m]["value"] for r in runs if m in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            sp = (q3 - q1) / med if med else float("inf")
            flag = "" if sp <= bounds[m] / 3 else "  <-- above bound/3"
            if m != "setup_s":
                worst = max(worst, sp / bounds[m])
            print(f"  {m:22s} med {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"min {min(vals):10.4f}  max {max(vals):10.4f}  "
                  f"spread {sp:6.3f} (bound {bounds[m]}){flag}")
        if args.traced and runs:
            traced = _invoke(w, args.seed, seconds, 1)
            if traced:
                tf = os.path.join(ROOT, "perfbench_out", f"trace-{w}-{args.seed}.json")
                tm = json.load(open(tf))["metrics"]
                for m, v in sorted(tm.items()):
                    base = statistics.median(r["metrics"][m]["value"] for r in runs)
                    print(f"  tracing overhead {m:22s} {v - base:+10.4f} "
                          f"({(v - base) / base:+.1%} of untraced median)")
    print(f"\nworst spread / bound (excluding setup_s): {worst:.2f}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", action="append")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spread", type=int, default=0,
                   help="runs per workload for the spread report")
    p.add_argument("--traced", action="store_true",
                   help="with --spread: one extra traced run for the overhead")
    args = p.parse_args(argv)
    if args.spread:
        return spread(args)
    if not args.workload or len(args.workload) != 1 or not args.seconds:
        p.error("one --workload and --seconds are required")
    args.workload = args.workload[0]
    if not os.path.isfile(os.path.join(HERE, "workloads.py")):
        return 2
    return run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
